#!/usr/bin/env python3
"""The graft benchmark: one workload per invocation, measured from outside.

    python3 perfbench/run.py --workload live_feed|registry
        --seed N --seconds S --trace 0|1

Builds graft and the harness (`perfbench/build.py`), makes the workload's
inputs from the seed, runs the workload in one JVM at local[nproc] and
checks every output. With `--trace 0` the last stdout line carries the
end-to-end metrics, with `--trace 1` the per-layer metrics of a traced run.
Workload parameters are in `perfbench/spec.json`. Everything is written
under `.bench_run/` and `.bench_build/` at the root of the checkout.
"""
import argparse
import bisect
import datetime
import glob
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402
import gen_data  # noqa: E402
import oracle  # noqa: E402

ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(HERE, "spec.json")))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
UNITS = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}
PROCESS_TIMEOUT_S = 170

# The JVM flags graft's own build runs its mains and tests with (build.sbt),
# plus -XX:-UsePerfData, which keeps the JVM from writing its perf-data file to
# the system temp directory, outside the checkout.
JVM_FLAGS = ["-XX:-UsePerfData"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-XX:ReservedCodeCacheSize=1g", "-XX:PerMethodRecompilationCutoff=-1",
    "-XX:PerBytecodeRecompilationCutoff=-1", "-XX:-DontCompileHugeMethods"]


def pct(values, q):
    """Nearest-rank percentile (q in (0, 1]) of a non-empty list."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def supported_pct(n):
    """Highest of p99/p90/p50 with at least ten samples beyond it."""
    for q in (0.99, 0.9):
        if n * (1 - q) >= 10:
            return q
    return 0.5


def union_s(intervals, lo, hi):
    """Length in seconds of the union of [a, b) ms intervals clipped to [lo, hi)."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total, end = total + (b - a), b
        elif b > end:
            total, end = total + (b - end), b
    return total / 1000.0


def iso_ms(ts):
    return datetime.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


def offset(v):
    """A source offset as a frame count (okx source), else None."""
    v = json.loads(v) if isinstance(v, str) else v
    return v if isinstance(v, int) else None


def batches(progress_json):
    """Data micro-batches of one query: start/commit ms, offsets, durations."""
    out = []
    for p in map(json.loads, progress_json):
        src = p["sources"][0] if p.get("sources") else None
        if not src or src.get("startOffset") is None or "addBatch" not in p["durationMs"]:
            continue
        start = iso_ms(p["timestamp"])
        out.append({"start": start, "commit": start + p["durationMs"]["triggerExecution"],
                    "from": offset(src["startOffset"]), "to": offset(src["endOffset"]),
                    "rows": p["numInputRows"], "d": p["durationMs"],
                    "state": p.get("stateOperators", [])})
    return out


# ---------------------------------------------------------------- live_feed

def live_metrics(raw):
    jb = sorted((b for b in batches(raw["progress"]["jsonl"]) if b["to"] > b["from"]),
                key=lambda b: b["from"])
    ends = [b["to"] for b in jb]

    def batch_of(frame):
        i = bisect.bisect_right(ends, frame)
        return jb[i] if i < len(jb) and jb[i]["from"] <= frame else None

    a, n, rate = raw["steady_from"], raw["steady_frames"], raw["rate"]
    lat, used = [], set()
    for k in range(n):
        b = batch_of(a + k)
        if b is None:
            raise SystemExit(f"frame {a + k} is in no JSONL micro-batch progress")
        used.add(b["from"])
        lat.append(b["commit"] - (raw["steady_start_ms"] + k * 1000.0 / rate))
    drains, rates = [], []
    for burst in raw["bursts"]:
        first, last = batch_of(burst["from"]), batch_of(burst["from"] + burst["frames"] - 1)
        wall = (last["commit"] - first["start"]) / 1000.0
        drains.append(wall)
        rates.append(burst["events"] / wall)
    return {
        "wall_s": statistics.median(drains),
        "events_per_s": statistics.median(rates),
        "latency_p50_ms": statistics.median(lat),
        "latency_p99_ms": pct(lat, 0.99),
    }, {"steady_frames": len(lat), "steady_batches": len(used), "bursts": len(drains),
        "latency_pct_supported": supported_pct(len(lat))}


def streaming_layer(prefix, bs):
    if not bs:
        return {}
    d = lambda k: sum(b["d"].get(k, 0) for b in bs)
    trig = [b["d"]["triggerExecution"] for b in bs]
    return {f"streaming.{prefix}.batches": len(bs),
            f"streaming.{prefix}.trigger_ms_p50": statistics.median(trig),
            f"streaming.{prefix}.trigger_ms_p99": pct(trig, 0.99),
            f"streaming.{prefix}.query_planning_ms": d("queryPlanning"),
            f"streaming.{prefix}.add_batch_ms": d("addBatch"),
            f"streaming.{prefix}.wal_commit_ms": d("walCommit"),
            f"streaming.{prefix}.commit_offsets_ms": d("commitOffsets"),
            f"streaming.{prefix}.rows_per_batch_p50": statistics.median(b["rows"] for b in bs)}


def state_layer(bs):
    ops = [op for b in bs for op in b["state"]]
    return {"state.commit_ms": sum(op.get("commitTimeMs", 0) for op in ops),
            "state.update_ms": sum(op.get("allUpdatesTimeMs", 0) for op in ops),
            "state.rows_total": max((op.get("numRowsTotal", 0) for op in ops), default=0),
            "state.memory_bytes": max((op.get("memoryUsedBytes", 0) for op in ops), default=0)}


def spark_layer(trace, lo, hi):
    """Jobs submitted in [lo, hi) and their completed stages."""
    jobs = [j for j in trace["jobs"] if lo <= j["start"] < hi]
    ids = {s for j in jobs for s in j["stages"]}
    stages = [s for s in trace["stages"] if s["id"] in ids]
    tot = lambda k: sum(s[k] for s in stages)
    busy = union_s([(j["start"], j["end"]) for j in jobs], lo, hi)
    return {"spark.job_busy_s": busy, "spark.jobs": len(jobs), "spark.stages": len(stages),
            "spark.tasks": tot("tasks"), "spark.task_cpu_s": tot("cpu_ns") / 1e9,
            "spark.gc_s": tot("gc_ms") / 1000.0, "spark.shuffle_bytes": tot("shuffle_bytes"),
            "spark.input_bytes": tot("input_bytes"), "spark.spill_bytes": tot("spill_bytes"),
            "driver.between_jobs_s": (hi - lo) / 1000.0 - busy}


def live_layers(raw, out_dir):
    lo, hi = raw["timed_start_ms"], raw["timed_end_ms"]
    timed = lambda bs: [b for b in bs if lo <= b["start"] < hi]
    jb = timed(batches(raw["progress"]["jsonl"]))
    mb = timed(batches(raw["progress"]["metrics"]))
    m = {"sources.frames_offered": raw["frames"],
         "sources.frames_dropped": raw["dropped"],
         "sources.backlog_frames_max": raw["backlog_frames_max"],
         "sources.latest_offset_ms": sum(b["d"].get("latestOffset", 0) for b in jb + mb),
         "sources.get_batch_ms": sum(b["d"].get("getBatch", 0) for b in jb + mb),
         "generator.late_ms_p99": raw["late_ms_p99"],
         "operators.normalize_events_per_s": raw["isolated"].get("normalize_events_per_s", 0),
         "streaming.jsonline_events_per_s": raw["isolated"].get("jsonline_events_per_s", 0)}
    m.update(streaming_layer("jsonl", jb))
    m.update(streaming_layer("metrics", mb))
    m.update(state_layer(mb))
    files = [p for p in glob.glob(os.path.join(out_dir, "jsonl", "**", "part-*"), recursive=True)
             if not p.endswith(".crc")]
    m["sinks.jsonl_files"] = len(files)
    m["sinks.jsonl_bytes"] = sum(os.path.getsize(p) for p in files)
    m.update(spark_layer(raw["trace"], lo, hi))
    m["codegen.compiles"] = raw.get("compiles", 0)
    return m


# ----------------------------------------------------------------- registry

def closed_metrics(raw):
    """An operation is a pass. `wall_s` sums each query's median wall over
    the timed passes; the latency percentiles are over timed pass walls."""
    timed = [p for p in raw["passes"] if p["kind"] == "timed"]
    per_query = {}
    for p in timed:
        for q in p["queries"]:
            per_query.setdefault(q["query"], []).append(q["end"] - q["start"])
    wall = sum(statistics.median(v) for v in per_query.values()) / 1000.0
    passes = [p["end"] - p["start"] for p in timed]
    return {
        "wall_s": wall,
        "events_per_s": len(per_query) / wall,
        "latency_p50_ms": statistics.median(passes),
        "latency_p99_ms": pct(passes, 0.99),
    }, {"timed_passes": len(timed), "queries_per_pass": len(per_query),
        "query_median_walls_s": {q: round(statistics.median(v) / 1000.0, 3)
                                 for q, v in sorted(per_query.items())},
        "pass_walls_s": {p["sample"]: round((p["end"] - p["start"]) / 1000.0, 3)
                         for p in raw["passes"]}}


def closed_layers(raw):
    trace = raw["trace"]
    per_pass = []
    for p in (p for p in raw["passes"] if p["kind"] == "timed"):
        lo, hi = p["start"], p["end"]
        qs = p["queries"]
        m = {"queries.build_s": sum(q["built"] - q["start"] for q in qs) / 1000.0,
             "catalyst.plan_s": sum(q["planned"] - q["built"] for q in qs) / 1000.0,
             "spark.execute_s": sum(q["end"] - q["planned"] for q in qs) / 1000.0,
             "codegen.compiles": sum(q["compiles"] for q in qs)}
        for q in qs:
            m[f"queries.{q['query']}.wall_s"] = (q["end"] - q["start"]) / 1000.0
        bs = [b for b in batches(trace["progress"]) if lo <= b["start"] < hi]
        m.update(streaming_layer("gates", bs))
        m.update(state_layer(bs))
        m.update(spark_layer(trace, lo, hi))
        per_pass.append(m)
    keys = set().union(*per_pass)
    return {k: statistics.median(p.get(k, 0) for p in per_pass) for k in keys}


def self_times(raw):
    """Self time per span name: duration minus what its children cover.
    Jobs, stages and micro-batches come from the listener records; a job or
    micro-batch hangs under the harness span (`queries.build`,
    `spark.execute` or a live phase) that was open when it started."""
    trace = raw["trace"]
    spans = [dict(s) for s in trace["spans"]]
    holders = sorted((s for s in spans if s["name"] in ("queries.build", "spark.execute")
                      or s["name"].startswith("phase.")), key=lambda s: s["start"])
    starts = [s["start"] for s in holders]

    def add(parent, name, start, end, sample=None):
        if parent is None:
            i = bisect.bisect_right(starts, start) - 1
            holder = holders[i] if i >= 0 and start < holders[i]["end"] else None
            parent, sample = (holder["id"], holder["sample"]) if holder else (0, "")
        spans.append({"id": len(spans) + 1, "parent": parent, "name": name,
                      "start": start, "end": end, "sample": sample})
        return spans[-1]

    stage_parent = {}
    for j in trace["jobs"]:
        job = add(None, "job", j["start"], j["end"])
        for st in j["stages"]:
            stage_parent.setdefault(st, job)
    for st in trace["stages"]:
        if st["id"] in stage_parent:
            job = stage_parent[st["id"]]
            add(job["id"], "stage", st["start"], st["end"], job["sample"])
    for b in batches(trace["progress"]):
        mb = add(None, "micro_batch", b["start"], b["commit"])
        t = b["start"]
        for part in ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
                     "commitOffsets"):
            dur = b["d"].get(part, 0)
            add(mb["id"], f"micro_batch.{part}", t, t + dur, mb["sample"])
            t += dur
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    selfs = {}
    for s in spans:
        own = (s["end"] - s["start"]) / 1000.0 - union_s(kids.get(s["id"], []), s["start"], s["end"])
        selfs[s["name"]] = selfs.get(s["name"], 0.0) + own
    return spans, selfs


# --------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=BENCH["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    wl = SPEC["workloads"][args.workload]
    # a terminated benchmark still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classes, spark_jars = build.ensure()
    setup_t0 = time.time() * 1000.0
    cores = os.cpu_count() or 1
    run_dir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    out_dir = os.path.join(run_dir, "out")
    for d in ("out", "tmp", "scratch", "local"):
        os.makedirs(os.path.join(run_dir, d))
    try:
        cfg = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": bool(args.trace), "cores": str(cores), "out_dir": out_dir}
        if wl["kind"] == "live":
            cfg["live"] = wl["live"]
        else:
            cfg["data_dir"] = os.path.join(run_dir, "data")
            cfg["queries"] = wl["queries"]
            cfg["warm_passes"] = wl["warm_passes"]
            # the tables come from the spec's fixed data seed, as the registry
            # queries read one fixed fixture; --seed permutes the query order
            gen_data.generate(cfg["data_dir"], wl["data_seed"], wl["sf"])
        cfg_path = os.path.join(run_dir, "config.json")
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        env = {k: v for k, v in os.environ.items() if not k.startswith("GRAFT_")}
        env["GRAFT_SCRATCH"] = os.path.join(run_dir, "scratch")
        cmd = ["java", f"-Xms{SPEC['jvm_heap']}", f"-Xmx{SPEC['jvm_heap']}", *JVM_FLAGS,
               f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
               f"-Dspark.local.dir={os.path.join(run_dir, 'local')}",
               f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
               "-cp", os.pathsep.join([classes, os.path.join(spark_jars, "*")]),
               "perfbench.Main", cfg_path]
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=log)
            try:
                code = proc.wait(timeout=PROCESS_TIMEOUT_S - (time.time() - setup_t0 / 1000.0))
            except subprocess.TimeoutExpired:
                code = "timeout"
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        raw_path = os.path.join(out_dir, "raw.json")
        if code != 0 or not os.path.exists(raw_path):
            sys.stderr.write(open(os.path.join(run_dir, "jvm.log")).read()[-4000:])
            raise SystemExit(f"benchmark JVM failed ({code})")
        raw = json.load(open(raw_path))

        if wl["kind"] == "live":
            e2e, info = live_metrics(raw)
            attempted, failed = raw["frames"], raw["failed_frames"]
            errors = [f"{failed} frames dropped or with a missing or wrong JSONL line"] if failed else []
        else:
            e2e, info = closed_metrics(raw)
            runs = [q for p in raw["passes"] for q in p["queries"]]
            errors = [f"{q['query']} threw: {q.get('error')}" for q in runs if not q["ok"]]
            errors += oracle.check(cfg["data_dir"], os.path.join(out_dir, "results"),
                                   raw["oracle_sql"], wl["queries"])
            attempted, failed = len(runs), len(errors)
        e2e["setup_s"] = (raw["timed_start_ms"] - setup_t0) / 1000.0
        info["session_ready_s"] = round((raw["session_ready_ms"] - setup_t0) / 1000.0, 3)
        peak_rss_mb = raw["peak_rss_kb"] / 1024.0

        if args.trace:
            layers = live_layers(raw, out_dir) if wl["kind"] == "live" else closed_layers(raw)
            for k, v in e2e.items():
                layers[f"traced.{k}"] = v
            layers["jvm.peak_rss_mb"] = peak_rss_mb
            spans, selfs = self_times(raw)
            trace_dir = os.path.join(ROOT, ".bench_run", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            trace_path = os.path.join(trace_dir, f"{args.workload}-{args.seed}.json")
            with open(trace_path, "w") as f:
                json.dump({"spans": spans, "self_s": selfs}, f)
            print(f"trace: {len(spans)} spans in {os.path.relpath(trace_path, ROOT)}")
            print("self time (s): " + ", ".join(f"{k}={v:.3f}" for k, v in sorted(selfs.items())))
            names = [m["name"] for m in BENCH["per_layer"]]
            metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": UNITS[k]} for k in names}
        else:
            names = [m["name"] for m in BENCH["end_to_end"]]
            metrics = {k: {"value": float(e2e[k]), "unit": UNITS[k]} for k in names}

        print(f"workload {args.workload} seed {args.seed} ({wl['loop']}, local[{cores}], "
              f"{json.dumps(info)})")
        for k, m in metrics.items():
            print(f"  {k:<44} {m['value']:>16.4f} {m['unit']}")
        if not args.trace:
            print(f"  {'peak_rss_mb':<44} {peak_rss_mb:>16.4f} MB")
        print(f"  {'error_rate':<44} {failed / attempted:>16.4f} failed/attempted "
              f"({failed}/{attempted})")
        for e in errors:
            print(f"  ERROR {e}")
        print(json.dumps({"correct": not errors, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0 if not errors else 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
