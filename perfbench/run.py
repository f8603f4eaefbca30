#!/usr/bin/env python3
"""graft's benchmark. One run measures one workload for one seed:

    python3 perfbench/run.py --workload batch_small --seed 1 --seconds 10 --trace 0

It builds graft and the benchmark from source when they changed,
generates the workload's input tables once, starts one JVM that sets
up, checks and times the workload, and prints a report with every
metric, its unit, n, median and tail. The last line of standard
output is one JSON object: with --trace 0 it holds the end-to-end
metrics, with --trace 1 the per-layer metrics. The exit code is 0 only
when every output was correct. perfbench/README.md explains the
workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from datetime import datetime
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import stats  # noqa: E402

RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800

FAMILIES = {  # family -> query-name prefixes (SparkEntry's naming)
    "relational": ("q",),
    "event": ("ev_",),
    "dedup": ("dd_",),
    "similarity": ("ann_", "emb_"),
    "text": ("txt_", "samp_", "pipe_"),
    "multimodal": ("mm_",),
}

ALL_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]

# Generated inputs: GenData scale and tables per dataset.
DATASETS = {
    "sf0.01": (0.01, ALL_TABLES),
    "docs_sf0.1": (0.1, ["documents"]),
}

WORKLOADS = {
    # Driver-bound: tiny tables, so nothing spills and no query crosses
    # a size floor; fixed costs per job, probe and plan dominate.
    "batch_small": {
        "kind": "batch", "dataset": "sf0.01", "heap": "2g", "warm": 2,
        "queries": ["q25_supplier_flow", "ev_session_gap", "dd_containment_strat_budget"],
        "spark": {},
    },
    # Stateful dedup and routing over an open-loop event stream.
    "stream_bus": {
        "kind": "stream", "heap": "2g",
        "params": {"rate": 5000, "time_factor": 7200, "redeliver": 0.05, "late": 0.02,
                   "users": 2000, "warm": 5, "fixed_share": 0.6, "tick_ms": 20,
                   "trigger_ms": 1000, "backlog": 100000},
        "spark": {},
    },
    # Execution-bound and spilling: the two count-join dedup rows over
    # 5,000 documents with a small execution pool, so their shuffles
    # spill. Runnable by name; not in BENCHMARK.json (see README.md).
    "dedup_spill": {
        "kind": "batch", "dataset": "docs_sf0.1", "heap": "1536m", "warm": 1,
        "queries": ["dd_containment", "dd_ngram_jaccard"],
        "spark": {"spark.memory.fraction": "0.15"},
    },
}

SETUPS = 3  # set-up repeats per run; setup_s is their median

# The stream's fixed-rate phase is cut into this many windows by due
# time; its latency metrics are medians over the windows' percentiles,
# so one slow stretch of a shared host moves one window, not the metric.
LATENCY_WINDOWS = 5

E2E_UNITS = {"setup_s": "s", "p50_ms": "ms", "tail_ms": "ms", "ops_per_s": "1/s",
             "peak_rss_mb": "MB"}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def per_layer_units():
    units = {
        "session.start_s": "s",
        "operators.build_s": "s", "operators.build_jobs": "count",
        "operators.checkpoints": "count", "operators.checkpoint_mb": "MB",
        "plans.plan_s": "s", "driver.idle_s": "s", "driver.idle_share": "ratio",
        "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
        "exec.job_s": "s", "exec.task_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
        "exec.slot_util": "ratio", "exec.task_skew": "ratio",
        "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
        "exec.spill_mem_mb": "MB", "exec.spill_disk_mb": "MB", "exec.peak_exec_mem_mb": "MB",
        "sources.scan_mb": "MB", "sources.scan_rows": "count",
        "sinks.write_s": "s", "sinks.batch_ms": "ms",
        "streaming.state_commit_ms": "ms", "streaming.wal_ms": "ms",
        "streaming.plan_ms": "ms", "streaming.offsets_ms": "ms",
        "streaming.batch_ms_p50": "ms", "streaming.exec_ms": "ms",
        "streaming.batch_ms_max": "ms", "streaming.rows_per_batch": "count",
        "streaming.state_rows": "count", "streaming.state_mb": "MB",
        "streaming.rows_removed": "count", "streaming.batches": "count",
        "streaming.rows_dropped_late": "count", "streaming.emit_ratio": "ratio",
        "streaming.backlog_max": "count", "streaming.gen_late_ms": "ms",
        "trace.overhead_share": "ratio",
    }
    for fam in FAMILIES:
        units[f"driver.idle_s.{fam}"] = "s"
        units[f"operators.build_s.{fam}"] = "s"
        units[f"exec.jobs.{fam}"] = "count"
        units[f"exec.task_s.{fam}"] = "s"
        units[f"exec.spill_disk_mb.{fam}"] = "MB"
    return units


def family(query):
    for fam, prefixes in FAMILIES.items():
        if query.startswith(prefixes) and (fam != "relational" or query[1:2].isdigit()):
            return fam
    raise ValueError(f"no family for {query}")


def say(*parts):
    print(*parts, flush=True)


# ---------------------------------------------------------------- build

def source_files():
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(d.glob("*.sbt")) + sorted(d.glob("*.properties"))
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def build():
    """Compiles graft and the benchmark unless the sources are unchanged
    since the last build; returns the runtime classpath."""
    state = HERE / ".build"
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    cp_file = state / "classpath"
    if cp_file.exists() and (state / "stamp").exists() and (state / "stamp").read_text() == stamp:
        return cp_file.read_text().strip()
    state.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    say(f"[perfbench] building graft and the benchmark with sbt")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_LIMIT_S)
    (state / "build.log").write_text(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.exit(f"[perfbench] build failed, see {state / 'build.log'}")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    (state / "stamp").write_text(stamp)
    say(f"[perfbench] built in {time.time() - t0:.1f} s")
    return cp


# ---------------------------------------------------------------- JVM

def java_cmd(cp, heap, spark_conf, work, mode, args):
    # a fixed heap, so peak RSS does not depend on when the heap grew;
    # no perf-data file, so the JVM writes nothing outside the checkout
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    props = {"spark.ui.enabled": "false", "spark.sql.session.timeZone": "UTC",
             "spark.sql.warehouse.dir": str(work / "warehouse"),
             "java.io.tmpdir": str(work / "tmp")}
    props.update(spark_conf)
    cmd += [f"-D{k}={v}" for k, v in props.items()]
    cmd += ["-cp", cp, "perfbench.Main", mode] + [f"{k}={v}" for k, v in args.items()]
    return cmd


def run_jvm(cmd, work, log_name, limit_s):
    """Runs the JVM with its output in a log file; returns (exit code,
    peak resident MB, log path). A JVM still running after limit_s is
    killed."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = str(work / "local")
    env["PERFBENCH_CPUS"] = str(min(4, os.cpu_count() or 1))
    log = work / log_name
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)
        deadline = time.time() + limit_s
        while True:
            pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                break
            if time.time() > deadline:
                os.killpg(proc.pid, signal.SIGKILL)
                pid, status, usage = os.wait4(proc.pid, 0)
                out.write(f"\n[perfbench] killed after {limit_s} s\n")
                break
            time.sleep(0.05)
    proc.returncode = os.waitstatus_to_exitcode(status)
    return proc.returncode, usage.ru_maxrss / 1024.0, log


def ensure_dataset(cp, name):
    d = HERE / ".data" / name
    done = d / "_DONE"
    if done.exists():
        return d
    if d.exists():
        shutil.rmtree(d)
    work = HERE / ".work" / "gen"
    shutil.rmtree(work, ignore_errors=True)
    t0 = time.time()
    sf, tables = DATASETS[name]
    code, _, log = run_jvm(java_cmd(cp, "3g", {}, work, "gen",
                                    {"dir": d, "sf": sf, "tables": ",".join(tables)}),
                           work, "gen.log", BUILD_LIMIT_S)
    if code != 0:
        sys.exit(f"[perfbench] generating {name} failed, see {log}")
    done.write_text(json.dumps(DATASETS[name]))
    shutil.rmtree(work, ignore_errors=True)
    say(f"[perfbench] generated {name} in {time.time() - t0:.1f} s")
    return d


def read_records(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def setup_metrics(recs):
    setups = [r for r in recs if r["k"] == "setup"]
    return (median([r["total_ms"] for r in setups]) / 1000.0,
            median([r["session_ms"] for r in setups]) / 1000.0, len(setups))


def batch_failures(recs, reference):
    """Queries that failed or whose result differs from the reference,
    with the reason for each."""
    bad = {}
    for r in recs:
        if r["k"] == "verify":
            q = r["q"]
            ref = reference.get(q)
            if r.get("error"):
                bad[q] = "failed: " + r["error"]
            elif ref is None:
                bad[q] = "no reference fingerprint"
            else:
                got = {k: r[k] for k in ("schema", "rows", "h1", "h2")}
                if got != ref:
                    bad[q] = f"result differs from reference: {got} != {ref}"
        elif r["k"] == "op" and r.get("error"):
            bad.setdefault(r["q"], "failed: " + r["error"])
    return bad


def batch_e2e(recs, bad, peak_mb, report):
    ops = [r for r in recs if r["k"] == "op" and not r["traced"]]
    good = [r for r in ops if r["q"] not in bad]
    samples = {}
    for r in good:
        samples.setdefault(r["q"], []).append(r["t1"] - r["t0"])
    all_ms = [x for xs in samples.values() for x in xs]
    per_q = {q: median(xs) for q, xs in samples.items()}
    setup_s, _, n_setups = setup_metrics(recs)
    m = {
        "setup_s": setup_s,
        "p50_ms": median(all_ms),
        "tail_ms": max(per_q.values()) if per_q else 0.0,
        "ops_per_s": len(all_ms) / (sum(all_ms) / 1000.0) if all_ms else 0.0,
        "peak_rss_mb": peak_mb,
    }
    suite = sum(per_q.values()) / 1000.0
    report.append(("setup_s", "s", n_setups, setup_s, None))
    report.append(("suite_s", "s", len(per_q), suite, None))
    report.append(("query_p50_s", "s", len(all_ms), m["p50_ms"] / 1000.0,
                   tail_of(all_ms, 1000.0)))
    report.append(("slowest_query_s", "s", len(per_q), m["tail_ms"] / 1000.0, None))
    report.append(("queries_per_s", "1/s", len(all_ms), m["ops_per_s"], None))
    for fam in FAMILIES:
        fam_q = [v for q, v in per_q.items() if family(q) == fam]
        if fam_q:
            report.append((f"{fam}_s", "s", len(fam_q), sum(fam_q) / 1000.0, None))
    report.append(("peak_rss_mb", "MB", 1, peak_mb, None))
    attempted = len(ops)
    failed = len(ops) - len(good)
    report.append(("failed_share", "ratio", attempted, failed / attempted if attempted else 0.0, None))
    return m, attempted, failed


def tail_of(values, scale):
    p = stats.supported_tail(len(values))
    if p is None or p == 50.0:
        return None
    return (f"p{p:g}", stats.percentile(values, p) / scale)


def batch_layers(recs, cores):
    m = {k: 0.0 for k in per_layer_units()}
    m["session.start_s"] = setup_metrics(recs)[1]
    ops = [r for r in recs if r["k"] == "op" and r["traced"]]
    passes = len({r["pass"] for r in ops}) or 1
    jobs = [r for r in recs if r["k"] == "job"]
    stages = [r for r in recs if r["k"] == "stage"]
    plans = [r for r in recs if r["k"] == "plan"]
    jobs_by_op, stages_by_op = {}, {}
    for j in jobs:
        jobs_by_op.setdefault(j["op"], []).append(j)
    for s in stages:
        stages_by_op.setdefault(s["op"], []).append(s)
    sink_self = idle = job_s = build_s = build_jobs = plan_ms = 0.0
    for r in ops:
        fam = family(r["q"])
        op_jobs = jobs_by_op.get(r["op"], [])
        job_iv = [(j["t0"], j["t1"]) for j in op_jobs]
        busy = stats.union_length(job_iv, r["t0"], r["t1"])
        wall = r["t1"] - r["t0"]
        op_plans = [(p["t0"], p["t1"]) for p in plans
                    if p["t0"] >= r["t0"] - 1 and p["t1"] <= r["t1"] + 1]
        idle += wall - busy
        job_s += busy
        build_s += r["tb"] - r["t0"]
        nb = sum(1 for j in op_jobs if j["t0"] < r["tb"])
        build_jobs += nb
        plan_ms += sum(b - a for a, b in op_plans)
        sink_self += stats.self_time((r["tb"], r["t1"]), job_iv + op_plans)
        m[f"driver.idle_s.{fam}"] += (wall - busy) / 1000.0
        m[f"operators.build_s.{fam}"] += (r["tb"] - r["t0"]) / 1000.0
        m[f"exec.jobs.{fam}"] += len(op_jobs)
        for s in stages_by_op.get(r["op"], []):
            m[f"exec.task_s.{fam}"] += s["task_ms"] / 1000.0
            m[f"exec.spill_disk_mb.{fam}"] += s["spill_disk"] / 1e6
        m["operators.checkpoints"] += r["checkpoints"]
        m["operators.checkpoint_mb"] += r["checkpoint_bytes"] / 1e6
    m["operators.build_s"] = build_s / 1000.0
    m["operators.build_jobs"] = build_jobs
    m["plans.plan_s"] = plan_ms / 1000.0
    m["driver.idle_s"] = idle / 1000.0
    wall_total = sum(r["t1"] - r["t0"] for r in ops)
    m["driver.idle_share"] = idle / wall_total if wall_total else 0.0
    # the job listener records traced operations' jobs only
    exec_layer(m, jobs, stages, job_s, cores)
    m["sinks.write_s"] = sink_self / 1000.0
    # every sum above covers all traced passes; report per pass
    for k in per_layer_units():
        if k not in NOT_SUMS and not k.startswith("streaming."):
            m[k] /= passes
    # tracing overhead: traced against untraced passes, query by query
    by = {}
    for r in recs:
        if r["k"] == "op" and not r.get("error"):
            by.setdefault((r["q"], r["traced"]), []).append(r["t1"] - r["t0"])
    qs = [q for (q, t) in by if t and (q, False) in by]
    untraced = sum(median(by[(q, False)]) for q in qs)
    traced = sum(median(by[(q, True)]) for q in qs)
    m["trace.overhead_share"] = traced / untraced - 1.0 if untraced else 0.0
    return m


def exec_layer(m, jobs, stages, job_ms, cores):
    """The exec and sources metrics from traced jobs and stages; job_ms
    is the time in which at least one of the jobs was active."""
    m["exec.jobs"] = len(jobs)
    m["exec.stages"] = len(stages)
    m["exec.tasks"] = sum(s["tasks"] for s in stages)
    m["exec.job_s"] = job_ms / 1000.0
    m["exec.task_s"] = sum(s["task_ms"] for s in stages) / 1000.0
    m["exec.cpu_s"] = sum(s["cpu_ns"] for s in stages) / 1e9
    m["exec.gc_s"] = sum(s["gc_ms"] for s in stages) / 1000.0
    m["exec.slot_util"] = m["exec.task_s"] / (m["exec.job_s"] * cores) if job_ms else 0.0
    skews = [s["task_max_ms"] / s["task_median_ms"] for s in stages
             if s["tasks"] >= 2 and s["task_median_ms"] > 0]
    m["exec.task_skew"] = max(skews) if skews else 1.0
    m["exec.shuffle_write_mb"] = sum(s["shuffle_write"] for s in stages) / 1e6
    m["exec.shuffle_read_mb"] = sum(s["shuffle_read"] for s in stages) / 1e6
    m["exec.spill_mem_mb"] = sum(s["spill_mem"] for s in stages) / 1e6
    m["exec.spill_disk_mb"] = sum(s["spill_disk"] for s in stages) / 1e6
    m["exec.peak_exec_mem_mb"] = max([s["peak_exec_mem"] for s in stages] or [0]) / 1e6
    m["sources.scan_mb"] = sum(s["input_bytes"] for s in stages) / 1e6
    m["sources.scan_rows"] = sum(s["input_records"] for s in stages)


# per-layer metrics that are ratios or maxima, not sums to normalise
NOT_SUMS = ("session.start_s", "driver.idle_share", "exec.slot_util", "exec.task_skew",
            "exec.peak_exec_mem_mb", "trace.overhead_share")


def stream_check(recs):
    s = next(r for r in recs if r["k"] == "stream")
    problems = []
    if s["error_count"]:
        problems.append(f"{s['error_count']} unexpected rows, e.g. {s['errors'][:3]}")
    if s["missing"]:
        problems.append(f"{s['missing']} first deliveries never emitted")
    if s["checked"] <= s["lat_to"]:
        problems.append("the sink did not drain the fixed-rate phase")
    return s, problems


def batches_between(recs, t0, t1, started_only=False):
    """Progress of the micro-batches that ran within [t0, t1], or with
    started_only, that started within it."""
    out = []
    for r in recs:
        if r["k"] != "batch":
            continue
        p = r["p"]
        start = iso_ms(p["timestamp"])
        end = start + p["durationMs"].get("triggerExecution", 0)
        if t0 <= start < t1 and (started_only or end <= t1):
            out.append(p)
    return out


def iso_ms(ts):
    return datetime.strptime(ts.replace("Z", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp() * 1000.0


def stream_e2e(recs, s, peak_mb, report):
    flat = next(r for r in recs if r["k"] == "latency")["slot_ms"]
    pairs = list(zip(flat[0::2], flat[1::2]))
    lat = flat[1::2]

    def windowed(p):
        return median(stats.window_stat(pairs, s["lat_from"], s["lat_to"], LATENCY_WINDOWS, p))

    sat = batches_between(recs, s["sat_t0"] + 1000.0, s["sat_t1"], started_only=True)
    # drained events per second: the median over the saturation batches
    rates = [p["numInputRows"] / (p["durationMs"]["triggerExecution"] / 1000.0)
             for p in sat if p["durationMs"].get("triggerExecution")]
    setup_s, _, n_setups = setup_metrics(recs)
    m = {
        "setup_s": setup_s,
        "p50_ms": windowed(50.0),
        "tail_ms": windowed(90.0),
        "ops_per_s": median(rates),
        "peak_rss_mb": peak_mb,
    }
    report.append(("setup_s", "s", n_setups, setup_s, None))
    report.append(("stream_lat_p50_ms", "ms", len(lat), m["p50_ms"], ("p90", m["tail_ms"])))
    report.append(("stream_lat_p99_ms", "ms", len(lat), windowed(99.0), None))
    report.append(("stream_max_eps", "1/s", len(sat), m["ops_per_s"], None))
    report.append(("peak_rss_mb", "MB", 1, peak_mb, None))
    return m


def stream_layers(recs, s, cores):
    m = {k: 0.0 for k in per_layer_units()}
    m["session.start_s"] = setup_metrics(recs)[1]
    fixed = batches_between(recs, s["fixed_t0"], s["sat_t0"])
    sat = batches_between(recs, s["sat_t0"] + 1000.0, s["sat_t1"], started_only=True)

    def dur(p, *keys):
        return sum(p["durationMs"].get(k, 0) for k in keys)

    def state(p, key):
        return sum(o.get(key, 0) for o in p["stateOperators"])

    if fixed:
        m["streaming.state_commit_ms"] = median([state(p, "commitTimeMs") for p in fixed])
        m["streaming.wal_ms"] = median([dur(p, "walCommit", "commitOffsets") for p in fixed])
        m["streaming.plan_ms"] = median([dur(p, "queryPlanning") for p in fixed])
        m["streaming.offsets_ms"] = median([dur(p, "latestOffset", "getBatch") for p in fixed])
        m["streaming.batch_ms_p50"] = median([dur(p, "triggerExecution") for p in fixed])
        m["streaming.batches"] = len(fixed)
        m["streaming.rows_dropped_late"] = sum(state(p, "numRowsDroppedByWatermark") for p in fixed)
        rows_in = sum(p["numInputRows"] for p in fixed)
        sinks = [r for r in recs if r["k"] == "sink"
                 and s["fixed_t0"] <= r["t0"] <= s["sat_t0"]]
        m["sinks.batch_ms"] = median([r["t1"] - r["t0"] for r in sinks])
        m["streaming.emit_ratio"] = sum(r["rows"] for r in sinks) / rows_in if rows_in else 0.0
    if sat:
        m["streaming.exec_ms"] = median([dur(p, "addBatch") for p in sat])
        m["streaming.batch_ms_max"] = max(dur(p, "triggerExecution") for p in sat)
        m["streaming.rows_per_batch"] = median([p["numInputRows"] for p in sat])
        m["streaming.state_rows"] = max(state(p, "numRowsTotal") for p in sat)
        m["streaming.state_mb"] = max(state(p, "memoryUsedBytes") for p in sat) / 1e6
        m["streaming.rows_removed"] = median([state(p, "numRowsRemoved") for p in sat])
    m["streaming.backlog_max"] = s["backlog_max"]
    m["streaming.gen_late_ms"] = s["gen_late_ms"]
    # exec metrics per micro-batch of the traced window
    jobs = [r for r in recs if r["k"] == "job"]
    stages = [r for r in recs if r["k"] == "stage"]
    traced = batches_between(recs, s["trace_t0"], s["trace_t1"]) if s["trace_t0"] else []
    if jobs and traced:
        exec_layer(m, jobs, stages, stats.union_length([(j["t0"], j["t1"]) for j in jobs]), cores)
        for k in per_layer_units():
            if (k.startswith("exec.") or k.startswith("sources.")) and k not in NOT_SUMS:
                m[k] /= len(traced)
    # tracing overhead: the traced middle half of the fixed-rate phase
    # against its untraced outer quarters
    pairs = next(r for r in recs if r["k"] == "latency")["slot_ms"]
    span = s["lat_to"] - s["lat_from"]
    lo, hi = s["lat_from"] + span // 4, s["lat_from"] + 3 * span // 4
    inner = [pairs[i + 1] for i in range(0, len(pairs), 2) if lo <= pairs[i] < hi]
    outer = [pairs[i + 1] for i in range(0, len(pairs), 2) if not lo <= pairs[i] < hi]
    if inner and outer:
        m["trace.overhead_share"] = median(inner) / median(outer) - 1.0
    return m


# ---------------------------------------------------------------- main

def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--classpath", help="run this prebuilt classpath (a file holding it) "
                                        "instead of building the checkout")
    ap.add_argument("--write-reference", action="store_true",
                    help="record this run's result fingerprints as the reference for "
                         "the workload's dataset (only on a commit whose results match "
                         "the oracle: graft.Verify + scripts/check.py)")
    a = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        sys.exit("[perfbench] no graft sources next to perfbench/: run from a graft checkout")
    wl = WORKLOADS[a.workload]
    cp = Path(a.classpath).read_text().strip() if a.classpath else build()
    work = HERE / ".work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    raw = work / "raw.jsonl"
    args = {"seed": a.seed, "seconds": a.seconds, "trace": a.trace, "out": raw,
            "work": work, "setups": SETUPS}
    if wl["kind"] == "batch":
        data = ensure_dataset(cp, wl["dataset"])
        args.update({"data": data, "tables": ",".join(DATASETS[wl["dataset"]][1]),
                     "queries": ",".join(wl["queries"]),
                     "warm": wl["warm"], "min_passes": 4 if a.trace else 2})
    else:
        args.update(wl["params"])
    # building and generating inputs happen once per checkout and are
    # not held to the per-run time limit
    code, peak_mb, log = run_jvm(java_cmd(cp, wl["heap"], wl["spark"], work, wl["kind"], args),
                                 work, "jvm.log", RUN_LIMIT_S)
    if code != 0 or not raw.exists():
        sys.exit(f"[perfbench] the benchmark JVM failed (exit {code}), see {log}")
    recs = read_records(raw)
    cores = next(r for r in recs if r["k"] == "end")["cores"]

    report, problems = [], []
    if wl["kind"] == "batch":
        ref_file = HERE / "reference" / f"{wl['dataset']}.json"
        reference = json.loads(ref_file.read_text()) if ref_file.exists() else {}
        if a.write_reference:
            for r in recs:
                if r["k"] == "verify" and not r.get("error"):
                    reference[r["q"]] = {k: r[k] for k in ("schema", "rows", "h1", "h2")}
            ref_file.parent.mkdir(exist_ok=True)
            ref_file.write_text(json.dumps(reference, indent=1, sort_keys=True) + "\n")
        bad = batch_failures(recs, reference)
        problems += [f"{q}: {why}" for q, why in sorted(bad.items())]
        e2e, attempted, failed = batch_e2e(recs, bad, peak_mb, report)
        layers = batch_layers(recs, cores) if a.trace else None
    else:
        s, problems = stream_check(recs)
        e2e = stream_e2e(recs, s, peak_mb, report)
        attempted = s["firsts"] + s["late"] + s["redelivered"]
        failed = s["error_count"] + s["missing"]
        report.append(("failed_share", "ratio", attempted, failed / attempted, None))
        layers = stream_layers(recs, s, cores) if a.trace else None

    say(f"[perfbench] workload={a.workload} seed={a.seed} seconds={a.seconds:g} "
        f"trace={a.trace} cores={cores}")
    for name, unit, n, med, tail in report:
        t = f" {tail[0]}={fmt(tail[1])}" if tail else ""
        say(f"  {name:<22} {fmt(med):>12} {unit:<6} n={n}{t}")
    if layers is not None:
        units = per_layer_units()
        for k in sorted(layers):
            say(f"  {k:<34} {fmt(float(layers[k])):>12} {units[k]}")
    for p in problems:
        say(f"[perfbench] WRONG: {p}")
    correct = not problems
    if a.trace:
        units = per_layer_units()
        metrics = {k: {"value": float(layers[k]), "unit": units[k]} for k in units}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": E2E_UNITS[k]} for k in E2E_UNITS}
    say(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                    "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
