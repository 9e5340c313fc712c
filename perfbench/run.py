#!/usr/bin/env python3
"""Benchmark of the graft engine: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It compiles the engine's main sources
and the harness in perfbench/scala with the Scala compiler that ships in
Spark's jars (into .bench_build/), runs the harness in one JVM at
local[<cores>], checks the outputs, and prints one JSON object as the
last line of standard output. The line before it, {"info": ...}, names
every measured figure with its unit, how each was decided, and the
session posture. See perfbench/README.md.
"""
import argparse
import bisect
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # write nothing outside .bench_build/
import metrics as M  # noqa: E402

DATA = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected.json")
DEADLINE_S = 170.0
# A fixed heap: G1 then cycles through all of it, so the high-water RSS
# reads heap plus native memory instead of how far the heap happened to grow.
JVM_HEAP = "3g"
# A generator that ran later than this behind its schedule makes the
# stream run invalid: its latencies would describe the generator.
GEN_LAG_LIMIT_MS = 250.0

# Batch workloads: (data directory, leading keys, keys). The leading keys
# run first, in the order given; the seed sets the order of the rest.
# A run times exactly one pass; --seconds does not change it. Keys are
# picked by the rules in README.md ("Key selection") from per-key walls
# of a pass over every candidate key.
WORKLOADS = {
    # Short time-range aggregations over `events` at sf0.1, each mostly
    # per-query floor: Catalyst phases, job scheduling and scan. The
    # median key of each of 10 equal-count strata of the 76 events-only
    # q_ts_*/q_win_* keys ordered by wall, plus q_win_cumsum, the key
    # whose count() and noop walls differ most.
    "ts_dashboard": ("sf0.1", [], [
        "q_ts_peaks", "q_ts_forecast_linreg", "q_ts_heatmap", "q_ts_histogram_quantile",
        "q_ts_mttr", "q_ts_uptime", "q_win_rank_change", "q_ts_mk_trend",
        "q_ts_interarrival", "q_win_moving_avg", "q_win_cumsum",
    ]),
    # Keys whose time goes to work done while the DataFrame is built. Every
    # graph and dedup key reads the session's token-set frames and the
    # pair graph built on them, so a second key of that family would make
    # per-key walls depend on which key runs first; the family gets one
    # key, the median by wall of the four converging fixpoint loops, and
    # the four Util.rankedByRange keys, which share no frame, join it.
    # That key leads: the first key of the timed session also pays what
    # is left of the warm-up, which moved the other keys' walls by up to
    # 40% with the order. sf0.01,
    # because that work is per round and per job, not per row.
    "iterative_build": ("sf0.01", ["q_dedup_cluster"], [
        "q_ab_ks", "q_ab_mannwhitney", "q_agg_percentile_weighted", "q_sample_stratified",
    ]),
}
STREAM = "stream_ingest"

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """$SPARK_HOME/jars, else the jars beside the first spark-submit on
    the PATH whose Spark ships the Scala 2.13.17 compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.isfile(os.path.join(jars, "scala-compiler-2.13.17.jar")):
            return jars
    die("no Spark jars with scala-compiler-2.13.17: set SPARK_HOME")


def sources(root):
    eng = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(os.path.join(eng, "graft")):
        die("engine sources (src/main/scala/graft) not found: run from the root of a checkout")
    out = []
    for base in (eng, os.path.join(HERE, "scala")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build(root):
    """Compile engine + harness into .bench_build/classes unless the
    sources are unchanged since the last build."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = os.path.join(root, ".bench_build", "classes")
    stamp_file = os.path.join(out, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = ":".join(os.path.join(jars, f"scala-{p}-2.13.17.jar")
                        for p in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", os.path.join(jars, "*")] + srcs
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        die("build failed:\n" + r.stdout[-4000:])
    with open(os.path.join(tmp, "STAMP"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def run_jvm(root, classes, work, args, deadline):
    """Run the harness; returns (epoch ms at spawn, records). Kills the
    whole process group if it outlives the deadline."""
    jars = spark_jars()
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "records.jsonl")
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS] +
           [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dperfbench.work={work}",
            "-cp", f"{classes}:{jars}/*", "perfbench.PerfBench", args[0], out] + args[1:])
    env = dict(os.environ, GRAFT_SCRATCH=os.path.join(work, "scratch", "graft_sink"))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        t_spawn = time.time() * 1000.0
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        with open(log_path, errors="replace") as f:
            tail = [l for l in f.read().splitlines() if "WARN" not in l][-40:]
        die(f"harness failed ({rc}):\n" + "\n".join(tail), code=1)
    with open(out) as f:
        return t_spawn, [json.loads(l) for l in f]


def by_type(recs, t):
    return [r for r in recs if r["t"] == t]


def mark(recs, name):
    return next(r["at"] for r in by_type(recs, "mark") if r["name"] == name)


def memory_mb(recs):
    m = by_type(recs, "memory")[0]
    return m["vmhwm_kb"] / 1024.0 + m["scratch_peak_bytes"] / 2**20


def posture(recs):
    return by_type(recs, "posture")[0]["confs"]


# ---------------------------------------------------------------- batch

def batch(root, classes, work, a, deadline):
    sf, lead, rest = WORKLOADS[a.workload]
    rest = list(rest)
    random.Random(a.seed).shuffle(rest)
    keys = lead + rest
    t_spawn, recs = run_jvm(root, classes, work,
                            ["batch", os.path.join(DATA, sf), str(a.trace), ",".join(keys)], deadline)
    with open(EXPECTED) as f:
        expected = json.load(f)[a.workload]
    failed, attempted, mismatches = 0, 0, []
    for c in by_type(recs, "check"):
        attempted += 1
        want = expected.get(c["key"])
        got = None if "error" in c else {"rows": c["rows"], "digest": c["digest"]}
        if want is None or got is None or (got["rows"], got["digest"]) != (want["rows"], want["digest"]):
            failed += 1
            mismatches.append({"key": c["key"], "got": got or c.get("error"), "want": want})
    runs = by_type(recs, "key")
    attempted += len(runs)
    failed += sum(1 for r in runs if "error" in r)
    ok = [r for r in runs if "error" not in r]
    p = by_type(recs, "pass")[0]
    pass_s = (p["end"] - p["start"]) / 1000.0
    walls = [(r["end"] - r["start"]) / 1000.0 for r in ok]
    setup_s = (mark(recs, "setup_done") - t_spawn) / 1000.0
    e2e = {"setup_s": setup_s, "pass_s": pass_s,
           "latency_p50_ms": statistics.median(walls) * 1000.0, "peak_rss_mb": memory_mb(recs)}
    t = M.tail(walls)
    info = {
        "workload": a.workload, "seed": a.seed, "key_order": keys,
        "pass_s": {"value": pass_s, "unit": "s"},
        "query_p50_s": {"value": statistics.median(walls), "unit": "s", "samples": len(walls)},
        "query_tail_s": ({"value": t[1], "unit": "s", "percentile": t[0], "samples": t[2]} if t else
                         {"value": None, "unit": "s", "samples": len(walls),
                          "note": "too few samples for a percentile above the median "
                                  f"with {M.TAIL_MIN_BEYOND} beyond it"}),
        "setup_s": {"value": setup_s, "unit": "s"},
        "peak_rss_mb": {"value": e2e["peak_rss_mb"], "unit": "MB"},
        "failed_ratio": {"value": failed / attempted, "unit": "1"},
        "key_walls_s": {r["key"]: round((r["end"] - r["start"]) / 1000.0, 4) for r in ok},
        "mismatches": mismatches, "posture": posture(recs),
    }
    layers = batch_layers(recs, pass_s) if a.trace else None
    return e2e, layers, info, attempted, failed, True


def batch_layers(recs, pass_s):
    runs = [r for r in by_type(recs, "key") if "error" not in r]
    timed = [j for j in by_type(recs, "job") if j["phase"] in ("build", "write")]
    job_stage = {}
    for s in by_type(recs, "stage"):
        job_stage.setdefault(s["job"], []).append(s)
    stages = [s for j in timed for s in job_stage.get(j["id"], [])]
    phases = by_type(recs, "phase")
    per_key = {}
    for j in timed:
        per_key.setdefault(j["key"], []).append(j)
    cat = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    acc = {k: 0.0 for k in ("build", "util", "ops_jobs", "exec", "catalyst", "gap")}
    max_err = 0.0
    for r in runs:
        s, b, e = r["start"], r["built"], r["end"]
        jobs = per_key.get(r["key"], [])
        ph = [p for p in phases if s <= p["start"] and p["end"] <= e + 1]
        for p in ph:
            cat[p["name"]] = cat.get(p["name"], 0.0) + (p["end"] - p["start"])
        layer = {lay: [(j["start"], j["end"]) for j in jobs if M.attribute_job(j["callsite"], j["phase"]) == lay]
                 for lay in ("util", "ops", "exec")}
        all_jobs = [(j["start"], j["end"]) for j in jobs]
        # self times partition the key's wall: util jobs, then other build
        # jobs, then the rest of its jobs, then Catalyst phases outside
        # jobs, and the driver gap is what none of them covers
        util = M.union_ms(layer["util"], s, e)
        ops_j = M.union_ms(layer["util"] + layer["ops"], s, e) - util
        in_jobs = M.union_ms(all_jobs, s, e)
        covered = M.union_ms(all_jobs + [(p["start"], p["end"]) for p in ph], s, e)
        acc["build"] += b - s
        acc["util"] += util
        acc["ops_jobs"] += ops_j
        acc["exec"] += in_jobs - util - ops_j
        acc["catalyst"] += covered - in_jobs
        acc["gap"] += (e - s) - covered
        # a job tagged with this key that ran outside its wall means the
        # attribution, and so the split, is off by that much
        max_err = max(max_err, (M.union_ms(all_jobs) - in_jobs) / max(e - s, 1e-9))
    sumst = lambda f: sum(s[f] for s in stages)
    util_jobs = [j for j in timed if M.attribute_job(j["callsite"], j["phase"]) == "util"]
    build_jobs = [j for j in timed if j["phase"] == "build"]
    mem = by_type(recs, "memory")[0]
    return {
        "tables.bytes_read": sumst("input_bytes"),
        "tables.rows_read": sumst("input_rows"),
        "catalyst.analysis_ms": cat.get("analysis", 0.0),
        "catalyst.optimization_ms": cat.get("optimization", 0.0),
        "catalyst.planning_ms": cat.get("planning", 0.0),
        "ops.build_s": acc["build"] / 1000.0,
        "ops.build_jobs": len(build_jobs),
        "ops.collect_jobs": len({j["execution"] or f"job{j['id']}" for j in build_jobs
                                 if M.is_driver_action(j["callsite"])}),
        "util.checkpoint_jobs": len(util_jobs),
        "util.checkpoint_s": acc["util"] / 1000.0,
        "util.checkpoint_bytes": float(mem.get("checkpoint_peak_bytes", 0)),
        "exec.jobs": len(timed),
        "exec.stages": len(stages),
        "exec.tasks": sumst("tasks"),
        "exec.task_run_s": sumst("run_ms") / 1000.0,
        "exec.task_cpu_s": sumst("cpu_ns") / 1e9,
        "exec.shuffle_wait_s": sumst("fetch_wait_ms") / 1000.0,
        "exec.gc_s": sumst("gc_ms") / 1000.0,
        "exec.shuffle_read_bytes": sumst("shuffle_read_bytes"),
        "exec.shuffle_write_bytes": sumst("shuffle_write_bytes"),
        "exec.spill_bytes": sumst("spill_bytes"),
        "exec.core_busy_ratio": sumst("run_ms") / 1000.0 / (pass_s * os.cpu_count()),
        "driver.gap_s": acc["gap"] / 1000.0,
        "self.catalyst_s": acc["catalyst"] / 1000.0,
        "self.util_jobs_s": acc["util"] / 1000.0,
        "self.ops_jobs_s": acc["ops_jobs"] / 1000.0,
        "self.exec_jobs_s": acc["exec"] / 1000.0,
        "trace.self_time_error": max_err,
    }


# --------------------------------------------------------------- stream

def backlog_series(recs, q):
    """[(start ms, end ms, rows)] for each trigger of query q: rows offered
    by the time the trigger finished minus rows the query had taken."""
    ticks = sorted((t["done_at"], t["n"]) for t in by_type(recs, "tick"))
    times = [at for at, _ in ticks]
    cum = [0]
    for _, n in ticks:
        cum.append(cum[-1] + n)
    out, taken = [], 0
    for tr in sorted((t for t in by_type(recs, "trigger") if t["q"] == q), key=lambda t: t["batch"]):
        done = tr["start"] + tr["durations"].get("triggerExecution", 0)
        taken += tr["rows"]
        out.append((tr["start"], done, cum[bisect.bisect_right(times, done)] - taken))
    return out


def emit_latencies(recs):
    """{rung: [ms]}: for each event of the interarrival query, the time its
    batch's sink write ended minus the event's due time."""
    visible = {s["batch"]: s["end"] for s in by_type(recs, "sink") if s["q"] == "interarrival"}
    tick_batch, prev = {}, 0
    for tr in sorted((t for t in by_type(recs, "trigger") if t["q"] == "interarrival" and t["end_offset"]),
                     key=lambda t: t["batch"]):
        end = int(tr["end_offset"])
        for off in range(prev + 1, end + 1):
            tick_batch[off] = tr["batch"]
        prev = max(prev, end)
    out = {}
    for t in by_type(recs, "tick"):
        b = tick_batch.get(t["offset_a"])
        if b not in visible:
            continue
        n = t["n"]
        step = (t["last_due"] - t["first_due"]) / (n - 1) if n > 1 else 0.0
        out.setdefault(t["rung"], []).extend(visible[b] - (t["first_due"] + i * step) for i in range(n))
    return out


def stream(root, classes, work, a, deadline):
    t_spawn, recs = run_jvm(root, classes, work, ["stream", str(a.seed), str(a.seconds), str(a.trace)], deadline)
    chk = by_type(recs, "stream_check")[0]
    rungs = {r["name"]: r for r in by_type(recs, "rung")}
    rung_end = {r["name"]: r["at"] for r in by_type(recs, "rung_end")}

    # the late events are the offered ones missing from every window
    late_seen = chk["offered"] - chk["window_rows"]
    failed = (abs(chk["interarrival_rows"] - chk["interarrival_expected"]) +
              chk["window_mismatch_rows"] + abs(late_seen - chk["late_expected"]))
    attempted = chk["offered"]

    lat = emit_latencies(recs)
    ticks = [t for t in by_type(recs, "tick") if t["rung"] == "ref" or t["rung"].startswith("ladder")]
    lag = max(t["add_at"] - t["first_due"] for t in ticks)
    valid = lag <= GEN_LAG_LIMIT_MS

    series = {q: backlog_series(recs, q) for q in ("interarrival", "tumbling")}
    # a rung is judged on the triggers that both started and ended in it:
    # the first trigger of a rung still carries the previous rung's rate
    rung_rows, sustained = [], None
    for name in ["ref"] + sorted((n for n in rungs if n.startswith("ladder")), key=lambda n: int(n[6:])):
        r = rungs[name]
        lo, hi = r["start"], rung_end[name]
        grows = any(M.backlog_grows([((end - lo) / 1000.0, rows) for start, end, rows in pts
                                     if lo <= start and end <= hi], r["rate"])
                    for pts in series.values())
        ls = lat.get(name, [])
        rung_rows.append({"rung": name, "offered_rows_per_s": r["rate"], "backlog_grows": grows,
                          "seconds": r["seconds"],
                          "emit_p50_ms": statistics.median(ls) if ls else None,
                          "emit_tail_ms": (M.tail(ls) or (None, None))[1]})
        if not grows:
            sustained = max(sustained or 0.0, r["rate"])

    bursts = [(b["done"] - b["start"]) / 1000.0 for b in by_type(recs, "burst")]
    restart = by_type(recs, "restart")[0]
    first_emit = min(s["end"] for s in by_type(recs, "sink")
                     if s["q"] == "interarrival" and s["batch"] > restart["after_batch"])
    recovery_s = (first_emit - restart["at"]) / 1000.0
    setup_s = (mark(recs, "setup_done") - t_spawn) / 1000.0
    ref = lat["ref"]
    t = M.tail(ref)
    e2e = {"setup_s": setup_s, "pass_s": statistics.median(bursts),
           "latency_p50_ms": statistics.median(ref), "peak_rss_mb": memory_mb(recs)}
    info = {
        "workload": a.workload, "seed": a.seed, "valid": valid,
        "pass_s": {"value": e2e["pass_s"], "unit": "s", "bursts": bursts,
                   "burst_rows": by_type(recs, "burst")[0]["events"],
                   "rule": "median over bursts: a block offered at once, until both queries have emitted it"},
        "sustained_rows_per_s": {
            "value": sustained, "unit": "rows/s", "rungs": rung_rows,
            "rule": (f"highest rung on which neither query's backlog (rows offered minus rows "
                     f"taken, after each trigger) has a least-squares slope above "
                     f"{M.BACKLOG_GROWTH_SHARE:.0%} of the offered rate")},
        "emit_p50_ms": {"value": statistics.median(ref), "unit": "ms", "samples": len(ref),
                        "rate_rows_per_s": rungs["ref"]["rate"],
                        "rule": "interarrival sink write end minus the event's due time"},
        "emit_tail_ms": ({"value": t[1], "unit": "ms", "percentile": t[0], "samples": t[2]} if t
                         else {"value": None, "unit": "ms"}),
        "recovery_s": {"value": recovery_s, "unit": "s",
                       "rule": "restart of both queries until the first post-restore interarrival emit"},
        "gen_lag_ms": {"value": lag, "unit": "ms", "limit": GEN_LAG_LIMIT_MS},
        "setup_s": {"value": setup_s, "unit": "s"},
        "peak_rss_mb": {"value": e2e["peak_rss_mb"], "unit": "MB"},
        "failed_ratio": {"value": failed / attempted, "unit": "1"},
        "check": chk, "posture": posture(recs),
    }
    layers = stream_layers(recs, lag, series) if a.trace else None
    return e2e, layers, info, attempted, failed, valid


def stream_layers(recs, lag, series):
    lo, hi = mark(recs, "setup_done"), mark(recs, "ladder_done")
    trig = [t for t in by_type(recs, "trigger") if lo <= t["start"] <= hi and t["rows"] > 0]
    sinks = [s for s in by_type(recs, "sink") if lo <= s["start"] <= hi]
    mean = lambda xs: sum(xs) / len(xs) if xs else 0.0
    dur = lambda k: mean([t["durations"].get(k, 0) for t in trig])
    max_err = 0.0
    for t in trig:
        d = dict(t["durations"])
        wall = d.pop("triggerExecution", 0)
        if wall > 0:
            max_err = max(max_err, abs(sum(d.values()) - wall) / wall)
    jobs = [j for j in by_type(recs, "job") if lo <= j["start"] <= hi]
    stage_by_job = {}
    for s in by_type(recs, "stage"):
        stage_by_job.setdefault(s["job"], []).append(s)
    stages = [s for j in jobs for s in stage_by_job.get(j["id"], [])]
    sumst = lambda f: sum(s[f] for s in stages)
    ia = [t for t in by_type(recs, "trigger") if t["q"] == "interarrival"]
    return {
        "stream.trigger_ms": dur("triggerExecution"),
        "stream.addBatch_ms": dur("addBatch"),
        "stream.queryPlanning_ms": dur("queryPlanning"),
        "stream.walCommit_ms": dur("walCommit"),
        "stream.commitOffsets_ms": dur("commitOffsets"),
        "stream.state_commit_ms": mean([t["state_commit_ms"] for t in trig]),
        "stream.rocksdb_commit_ms": mean([t["rocksdb_commit_ms"] for t in trig]),
        "stream.state_rows": max(t["state_rows"] for t in ia),
        "stream.state_bytes": max(t["state_bytes"] for t in ia),
        "stream.late_rows_dropped": sum(t["late_dropped"] for t in by_type(recs, "trigger")),
        "stream.backlog_rows": max(rows for pts in series.values() for _, ms, rows in pts if lo <= ms <= hi),
        "sinks.write_ms": mean([s["end"] - s["start"] for s in sinks]),
        "sinks.bytes_written": sum(s["bytes"] for s in sinks),
        "gen.lag_ms": lag,
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": sumst("tasks"),
        "exec.task_run_s": sumst("run_ms") / 1000.0,
        "exec.task_cpu_s": sumst("cpu_ns") / 1e9,
        "exec.gc_s": sumst("gc_ms") / 1000.0,
        "exec.core_busy_ratio": sumst("run_ms") / (hi - lo) / os.cpu_count(),
        "trace.self_time_error": max_err,
    }


# ----------------------------------------------------------------- main

END_TO_END = {"setup_s": "s", "pass_s": "s", "latency_p50_ms": "ms", "peak_rss_mb": "MB"}
# A layer that does not run on a workload reads 0 there.
PER_LAYER = {
    "tables.bytes_read": "B", "tables.rows_read": "rows",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "ops.build_s": "s", "ops.build_jobs": "count", "ops.collect_jobs": "count",
    "util.checkpoint_jobs": "count", "util.checkpoint_s": "s", "util.checkpoint_bytes": "B",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.shuffle_wait_s": "s", "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "B", "exec.shuffle_write_bytes": "B", "exec.spill_bytes": "B",
    "exec.core_busy_ratio": "1",
    "driver.gap_s": "s",
    "self.catalyst_s": "s", "self.util_jobs_s": "s", "self.ops_jobs_s": "s",
    "self.exec_jobs_s": "s",
    "stream.trigger_ms": "ms", "stream.addBatch_ms": "ms", "stream.queryPlanning_ms": "ms",
    "stream.walCommit_ms": "ms", "stream.commitOffsets_ms": "ms", "stream.state_commit_ms": "ms",
    "stream.rocksdb_commit_ms": "ms", "stream.state_rows": "rows", "stream.state_bytes": "B",
    "stream.late_rows_dropped": "rows", "stream.backlog_rows": "rows",
    "sinks.write_ms": "ms", "sinks.bytes_written": "B",
    "gen.lag_ms": "ms",
    "trace.self_time_error": "1",
}


def main():
    # a stop signal unwinds through run_jvm, which then kills the harness
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + [STREAM])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    deadline = time.time() + DEADLINE_S
    root = os.getcwd()
    classes = build(root)
    work = os.path.join(root, ".bench_build", "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        fn = stream if a.workload == STREAM else batch
        e2e, layers, info, attempted, failed, valid = fn(root, classes, work, a, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.trace:
        # the traced run's end-to-end figures, against an untraced run's,
        # give the tracing overhead
        info["end_to_end_traced"] = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"info": info}))
    print(json.dumps({"correct": bool(valid and failed == 0), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
