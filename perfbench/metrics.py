"""Metric definitions: raw harness results -> end-to-end and per-layer metrics.

A harness result holds spans (kind "unit" = one repetition of the workload's
work, "op" = one call into the program, "layer" = a call into one module
inside an op) and, in traced runs, raw listener events (jobs, stages, tasks,
query-execution phases, streaming progress). Events are attributed to spans
by time: the harness is the only client, so spans do not overlap.
"""
import math
import os
import re
import statistics

# Percentiles a timing may be reported at: the highest one with at least
# ten samples beyond it is the tail (choosing-metrics guide, section 1).
PERCENTILES = (50, 75, 90, 95, 99, 99.9)
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")

# name -> (unit, help); the end-to-end metrics of every workload.
END_TO_END = {
    "setup_s": ("s", "JVM launch to the first timed operation, median over the run's JVMs"),
    "work_s": ("s", "wall of the run's unit of work (the ingest round, the night job)"),
    "op_latency_ms": ("ms", "geometric mean over the operations (calls into the program: "
                            "each CLI, each query) of each one's wall"),
    "heap_live_mb": ("MB", "heap still reachable after full GCs at the end of the timed "
                           "window"),
}

# name -> unit; the per-layer metrics of every workload (traced runs).
PER_LAYER = {
    "session.build_ms": "ms",
    "queries.build_ms": "ms", "queries.build_jobs": "count", "queries.artifact_bytes": "bytes",
    "sources.scan_tasks": "count", "sources.scan_bytes": "bytes", "sources.scan_rows": "rows",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "codegen.compiles": "count", "codegen.compile_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_cpu_ms": "ms", "exec.task_run_ms": "ms", "exec.critical_path_ms": "ms",
    "exec.sched_idle_ms": "ms", "exec.parallelism": "cores",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.spill_bytes": "bytes", "shuffle.fetch_wait_ms": "ms",
    "streaming.publish_ms": "ms", "streaming.publish_jobs": "count",
    "streaming.batches": "count", "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.get_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    "streaming.compiles_per_batch": "count", "streaming.state_rows": "rows",
    "sink.write_ms": "ms", "sink.bytes": "bytes", "sink.files": "count",
    "jvm.gc_ms": "ms", "jvm.jit_ms": "ms",
    "trace.residual_ms": "ms",
}

# Printed and saved, but left out of the traced result line: the metrics
# that read 0 on every run of a workload, counts and times alike. The CLIs of
# ingest never call SparkEntry.queries; neither workload runs an engine state
# store (the replay is stateless, q45b keeps its cross-batch state in its own
# parquet log); local mode never fetches shuffle blocks remotely; and neither
# workload spills at its size.
PRINTED_ONLY = {
    "queries.build_ms", "queries.build_jobs", "queries.artifact_bytes",
    "streaming.state_rows", "shuffle.fetch_wait_ms", "shuffle.spill_bytes",
}

_DURATIONS = {"streaming.add_batch_ms": "addBatch", "streaming.query_planning_ms": "queryPlanning",
              "streaming.get_batch_ms": "getBatch", "streaming.wal_commit_ms": "walCommit",
              "streaming.commit_offsets_ms": "commitOffsets"}


def nproc():
    return len(os.sched_getaffinity(0))


def valid_name(name):
    return bool(NAME.fullmatch(name))


def percentile(values, p):
    """Nearest-rank percentile of a non-empty sample."""
    xs = sorted(values)
    return xs[max(0, math.ceil(p / 100 * len(xs)) - 1)]


def tail_percentile(n):
    """Highest of PERCENTILES with at least ten of n samples beyond it."""
    ok = [p for p in PERCENTILES if n * (100 - p) / 100 >= 10 - 1e-9]
    return ok[-1] if ok else None


def spread(values):
    """Interquartile range as a share of the median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else math.inf


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [a, b) intervals, clipped to [lo, hi)."""
    total, end = 0, -math.inf
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    a, b = span
    return (b - a) - union_length(children, a, b)


def _inside(t, s):
    return s["start_us"] <= t < s["end_us"]


def _dur_ms(s):
    return (s["end_us"] - s["start_us"]) / 1000


def _batch_spans(jvm):
    """Micro-batch intervals from streaming progress (trigger start + its
    triggerExecution time)."""
    return [(e["t_us"], e["t_us"] + 1000 * e["ms"].get("triggerExecution", 0), e)
            for e in jvm["events"] if e["ev"] == "batch"]


def units(jvm):
    return [s for s in jvm["spans"] if s["kind"] == "unit"]


def ops_of(jvm, unit):
    return [s for s in jvm["spans"] if s["kind"] == "op" and s["parent"] == unit["id"]]


def op_walls(jvms):
    """Wall (ms) of each timed call into the program, by operation name."""
    out = {}
    for j in jvms:
        for u in units(j):
            for o in ops_of(j, u):
                out.setdefault(o["name"], []).append(_dur_ms(o))
    return out


def op_latency(by_name):
    """Geometric mean of each operation's median wall: every operation
    weighs the same, however long it takes."""
    return statistics.geometric_mean([statistics.median(v) for v in by_name.values()])


def batch_latencies(jvms):
    """Micro-batch latencies (ms) of the timed window: each trigger's
    triggerExecution time from streaming progress."""
    return [(b - a) / 1000 for j in jvms for u in units(j)
            for a, b, _ in _batch_spans(j) if _inside(a, u)]


def workload_jvms(jvms):
    """The JVMs that ran the workload, not only set-up."""
    return [j for j in jvms if j["workload"] != "setup"]


def end_to_end(jvms):
    return {
        "setup_s": statistics.median((j["first_op_us"] - j["launched_us"]) / 1e6 for j in jvms),
        "work_s": statistics.median(_dur_ms(u) / 1000 for j in jvms for u in units(j)),
        "op_latency_ms": op_latency(op_walls(jvms)),
        "heap_live_mb": statistics.median(j["heap_live_kb"] for j in workload_jvms(jvms)) / 1024,
    }


def _unit_layers(jvm, u):
    """Per-layer counters of one unit of work."""
    ev = jvm["events"]
    spans = jvm["spans"]
    ops = ops_of(jvm, u)
    op_ids = {o["id"] for o in ops}
    layer = [s for s in spans if s["kind"] == "layer" and s["parent"] in op_ids]
    builds = [s for s in layer if s["name"] == "queries.build"]
    execs = [s for s in layer if s["name"] == "exec"] or ops
    tasks = [e for e in ev if e["ev"] == "task" and _inside(e["t0_us"], u)]
    jobs = [e for e in ev if e["ev"] == "job" and _inside(e["t_us"], u)]
    ends = {e["job"]: e["t_us"] for e in ev if e["ev"] == "job_end"}
    job_spans = [(j["t_us"], ends.get(j["job"], j["t_us"])) for j in jobs]
    batches = [(a, b, e) for a, b, e in _batch_spans(jvm) if _inside(a, u)]
    starts = [e for e in ev if e["ev"] == "stream_start" and _inside(e["t_us"], u)]
    m = {k: 0.0 for k in PER_LAYER}

    m["queries.build_ms"] = sum(_dur_ms(s) for s in builds)
    m["queries.build_jobs"] = sum(1 for j in jobs if any(_inside(j["t_us"], s) for s in builds))
    m["queries.artifact_bytes"] = sum(max(0, s["counters"].get("artifact_bytes", 0)) for s in builds)
    scans = [t for t in tasks if t["in_bytes"] > 0 or t["in_rows"] > 0]
    m["sources.scan_tasks"] = len(scans)
    m["sources.scan_bytes"] = sum(t["in_bytes"] for t in scans)
    m["sources.scan_rows"] = sum(t["in_rows"] for t in scans)
    for e in ev:
        if e["ev"] == "qe":
            for phase, p in e["phases"].items():
                if phase in ("analysis", "optimization", "planning") and _inside(p["t0_us"], u):
                    m[f"plan.{phase}_ms"] += (p["t1_us"] - p["t0_us"]) / 1000
    m["codegen.compiles"] = u["counters"].get("codegen_compiles", 0)
    m["codegen.compile_ms"] = u["counters"].get("codegen_compile_ns", 0) / 1e6
    m["exec.jobs"] = len(jobs)
    m["exec.stages"] = len({t["stage"] for t in tasks})
    m["exec.tasks"] = len(tasks)
    m["exec.task_cpu_ms"] = sum(t["cpu_ns"] for t in tasks) / 1e6
    m["exec.task_run_ms"] = sum(t["run_ms"] for t in tasks)
    longest = {}
    for t in tasks:
        longest[t["stage"]] = max(longest.get(t["stage"], 0), t["t1_us"] - t["t0_us"])
    m["exec.critical_path_ms"] = sum(longest.values()) / 1000
    busy = [(t["t0_us"], t["t1_us"]) for t in tasks]
    window_us = sum(s["end_us"] - s["start_us"] for s in execs)
    m["exec.sched_idle_ms"] = sum(self_time((s["start_us"], s["end_us"]), busy) for s in execs) / 1000
    in_windows = sum(t["run_ms"] for t in tasks if any(_inside(t["t0_us"], s) for s in execs))
    m["exec.parallelism"] = in_windows * 1000 / window_us if window_us else 0.0
    m["shuffle.write_bytes"] = sum(t["sh_w"] for t in tasks)
    m["shuffle.read_bytes"] = sum(t["sh_r"] for t in tasks)
    m["shuffle.spill_bytes"] = sum(t["spill"] for t in tasks)
    m["shuffle.fetch_wait_ms"] = sum(t["fetch_wait_ms"] for t in tasks)

    compiles = nb = 0
    residual = 0.0
    for o in ops:
        first = min((s["t_us"] for s in starts if _inside(s["t_us"], o)), default=None)
        mine = [(a, b) for a, b, _ in batches if _inside(a, o)]
        covered = ([(s["start_us"], s["end_us"]) for s in layer if s["parent"] == o["id"]] +
                   mine + job_spans)
        if first is not None:
            m["streaming.publish_ms"] += (first - o["start_us"]) / 1000
            m["streaming.publish_jobs"] += sum(1 for j in jobs if o["start_us"] <= j["t_us"] < first)
            covered.append((o["start_us"], first))
        if mine:
            compiles += o["counters"].get("codegen_compiles", 0)
            nb += len(mine)
        residual += self_time((o["start_us"], o["end_us"]), covered)
    m["trace.residual_ms"] = residual / 1000
    m["streaming.batches"] = len(batches)
    for k, d in _DURATIONS.items():
        m[k] = sum(e["ms"].get(d, 0) for _, _, e in batches)
    m["streaming.compiles_per_batch"] = compiles / nb if nb else 0.0
    m["streaming.state_rows"] = max((e["state_rows"] for _, _, e in batches), default=0)
    writes = [t for t in tasks if t["out_bytes"] > 0]
    m["sink.write_ms"] = sum(t["run_ms"] for t in writes)
    m["sink.bytes"] = sum(t["out_bytes"] for t in writes)
    m["sink.files"] = sum(1 for t in writes if t["out_rows"] > 0)
    return m


def per_layer(jvms):
    """Per-unit counters, median over the run's units; the session build
    median over all the run's JVMs, GC and JIT over the workload's."""
    rows = [_unit_layers(j, u) for j in jvms for u in units(j)]
    out = {k: statistics.median(r[k] for r in rows) for k in PER_LAYER}
    session = [_dur_ms(s) for j in jvms for s in j["spans"] if s["name"] == "session.build"]
    out["session.build_ms"] = statistics.median(session)
    out["jvm.gc_ms"] = statistics.median(j["gc_ms"] for j in workload_jvms(jvms))
    out["jvm.jit_ms"] = statistics.median(j["jit_ms"] for j in workload_jvms(jvms))
    return out


def workload_figures(workload, jvms, inputs, outcome):
    """Figures printed (with units) before the result line but not gated:
    throughput of each CLI, the job wall, micro-batch latency percentiles
    with their sample count, peak RSS and the failure ratio."""
    lat = batch_latencies(jvms)
    tail = tail_percentile(len(lat))
    out = [("batch_p50_ms", statistics.median(lat) if lat else math.nan, "ms")]
    if tail and tail > 50:
        out.append((f"batch_p{tail:g}_ms", percentile(lat, tail), "ms"))
    out.append(("batch_samples", len(lat), "count"))
    if workload == "ingest":
        for name, op in (("ingest_rows_per_s", "cli.batch"), ("replay_rows_per_s", "cli.replay")):
            walls = [_dur_ms(s) / 1000 for j in jvms for s in j["spans"] if s["name"] == op]
            out.append((name, inputs["rows"] / statistics.median(walls), "rows/s"))
    else:
        out.append(("night_job_s", end_to_end(jvms)["work_s"], "s"))
    out.append(("peak_rss_mb", max(j["peak_rss_kb"] for j in workload_jvms(jvms)) / 1024, "MB"))
    out.append(("fail_ratio", outcome["failed"] / outcome["attempted"], "ratio"))
    return out


def report(workload, jvms, inputs, outcome, trace):
    """Lines to print, and the result object of the run's last line."""
    e2e = end_to_end(jvms)
    info = workload_figures(workload, jvms, inputs, outcome)
    lines = [f"workload {workload}: {len(jvms)} JVM(s), local[{nproc()}], "
             f"{sum(len(units(j)) for j in jvms)} timed unit(s)"]
    lines += [f"  {k} = {v:.6g} {END_TO_END[k][0]}" for k, v in e2e.items()]
    lines += [f"  {k} = {v:.6g} {u}" for k, v, u in info]
    lines += [f"  FAILED {r}" for r in outcome["reasons"]]
    layers = None
    if trace:
        layers = per_layer(jvms)
        lines += [f"  {k} = {v:.6g} {PER_LAYER[k]}" for k, v in layers.items()]
        chosen = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layers.items()
                  if k not in PRINTED_ONLY}
    else:
        chosen = {k: {"value": v, "unit": END_TO_END[k][0]} for k, v in e2e.items()}
    result = {"correct": outcome["failed"] == 0, "attempted": outcome["attempted"],
              "failed": outcome["failed"], "metrics": chosen}
    return {"lines": lines, "result": result, "end_to_end": e2e, "per_layer": layers,
            "info": {k: v for k, v, _ in info}}


def span_records(jvms):
    """Every span of a traced run as (name, start, end, parent, operation
    id), plus the ones derived from streaming progress: the publish phase of
    an operation (its start to its stream's start) and each micro-batch."""
    out = []
    for n, j in enumerate(jvms, 1):
        spans = j["spans"]
        out += [{"jvm": n, "id": s["id"], "name": s["name"], "start_us": s["start_us"],
                 "end_us": s["end_us"], "parent": s["parent"], "op": s["op"]} for s in spans]
        ops = [s for s in spans if s["kind"] == "op"]
        derived = [("streaming.publish", o["start_us"], e["t_us"])
                   for o in ops for e in j["events"]
                   if e["ev"] == "stream_start" and _inside(e["t_us"], o)]
        derived += [("streaming.batch", a, b) for a, b, _ in _batch_spans(j)]
        next_id = max((s["id"] for s in spans), default=0)
        for name, a, b in derived:
            op = next((o for o in ops if _inside(a, o)), None)
            next_id += 1
            out.append({"jvm": n, "id": next_id, "name": name, "start_us": a, "end_us": b,
                        "parent": op["id"] if op else 0, "op": op["id"] if op else -1})
    return out
