"""Statistics of the benchmark: latency summaries, failure ratio, per-layer
aggregation from the trace, and the steadiness check between sets of runs.

Everything here is pure Python over plain lists and dicts, so it can be
tested on synthetic samples (test_stats.py).
"""
import statistics

# A tail percentile must have at least this many samples beyond it.
TAIL_BEYOND = 10


def tail(latencies):
    """The highest percentile with at least TAIL_BEYOND samples beyond it.

    Returns (value, percentile, n), or None when the sample has too few
    values to support any tail (n <= TAIL_BEYOND).
    """
    xs = sorted(latencies)
    n = len(xs)
    if n <= TAIL_BEYOND:
        return None
    return xs[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n, n


def failed_ratio(attempted, failed):
    """(failed + wrong-result ops) / attempted ops."""
    if attempted < 1:
        raise ValueError("no op attempted")
    return failed / attempted


def end_to_end(ops, setup_s, retained_heap_mb):
    """End-to-end metrics of one untraced phase, from its op records."""
    lat = [o["latency_s"] for o in ops]
    busy = sum(lat)
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (rate(ops), "op/s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "rows_per_s": (sum(o.get("rows", 0) for o in ops) / busy, "rows/s"),
        "cpu_s_per_op": (sum(o["cpu_s"] for o in ops) / len(ops), "s"),
        "retained_heap_mb": (retained_heap_mb, "MiB"),
    }


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    ivs = sorted((max(c["start_ns"], span["start_ns"]), min(c["end_ns"], span["end_ns"]))
                 for c in children)
    covered, end = 0, span["start_ns"]
    for s, e in ivs:
        s = max(s, end)
        if e > s:
            covered += e - s
            end = e
    return (span["end_ns"] - span["start_ns"] - covered) / 1e9


def span_fields(spans):
    """Per-op layer seconds from the spans: {op id: {field: seconds}}."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        f = out.setdefault(s["op"], {})
        dur = (s["end_ns"] - s["start_ns"]) / 1e9
        name = s["name"]
        if name.startswith("sources."):
            _, codec, verb = name.split(".")
            key = f"sources.{codec}_{verb}_s"
        elif name.startswith("ops."):
            key = f"{name}_s"
            f["ops.self_s"] = f.get("ops.self_s", 0.0) + self_time(s, kids.get(s["id"], []))
        elif name in ("queries.construct", "plans.plan", "exec.execute"):
            key = {"queries.construct": "queries.construct_s", "plans.plan": "plans.plan_s",
                   "exec.execute": "exec.execute_s"}[name]
        else:
            continue
        f[key] = f.get(key, 0.0) + dur
    return out


# op-record field -> per-layer metric (mean over traced ops)
OP_FIELDS = {
    "exchanges": ("plans.exchanges", "count"),
    "jobs": ("exec.jobs", "count"),
    "stages": ("exec.stages", "count"),
    "tasks": ("exec.tasks", "count"),
    "task_busy_s": ("exec.task_busy_s", "s"),
    "task_cpu_s": ("exec.task_cpu_s", "s"),
    "sched_delay_s": ("exec.sched_delay_s", "s"),
    "shuffle_read_bytes": ("exec.shuffle_read_bytes", "B"),
    "shuffle_write_bytes": ("exec.shuffle_write_bytes", "B"),
    "spill_bytes": ("exec.spill_bytes", "B"),
    "failed_tasks": ("exec.failed_tasks", "count"),
    "build_s": ("operators.build_s", "s"),
    "artifacts_committed": ("operators.artifacts_committed", "count"),
    "artifact_bytes": ("operators.artifact_bytes", "B"),
}
# fields only some ops have (the op writing that codec): mean over those ops
SINK_FIELDS = {
    "write_amplification": ("sources.write_amplification", "ratio"),
    "jet_bytes_per_row": ("sources.jet_bytes_per_row", "B"),
    "sqlite_bytes_per_row": ("sources.sqlite_bytes_per_row", "B"),
}
SPAN_FIELDS = ["queries.construct_s", "plans.plan_s", "exec.execute_s", "ops.forward_s",
               "ops.reverse_s", "ops.self_s", "sources.jet_read_s", "sources.jet_write_s",
               "sources.sqlite_read_s", "sources.sqlite_write_s"]


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def rate(ops):
    """Correct ops per second of busy time."""
    return sum(1 for o in ops if o["ok"]) / sum(o["latency_s"] for o in ops)


def per_layer(traced_ops, spans, untraced_ops, phases, kernels, nproc, heap_max_mb):
    """Per-layer metrics of one traced run. Op fields are means over the
    traced ops; span and sink fields are means over the ops that have them
    (0 when none has); exec.skew is the median over ops and
    exec.peak_exec_mem_bytes the max."""
    sf = span_fields(spans)
    m = {}
    for field, (name, unit) in OP_FIELDS.items():
        m[name] = (_mean([o.get(field, 0) for o in traced_ops]), unit)
    for field, (name, unit) in SINK_FIELDS.items():
        m[name] = (_mean([o[field] for o in traced_ops if field in o]), unit)
    for name in SPAN_FIELDS:
        m[name] = (_mean([sf[o["op"]][name] for o in traced_ops
                          if name in sf.get(o["op"], {})]), "s")
    # construct excludes the index builds BuildTimer saw inside it
    m["queries.construct_s"] = (_mean([
        max(sf[o["op"]]["queries.construct_s"] - o.get("construct_build_s", 0.0), 0.0)
        for o in traced_ops if "queries.construct_s" in sf.get(o["op"], {})]), "s")
    m["exec.skew"] = (statistics.median([o.get("skew", 1.0) for o in traced_ops]), "ratio")
    m["exec.peak_exec_mem_bytes"] = (max(o.get("peak_exec_mem_bytes", 0) for o in traced_ops), "B")
    m["operators.bytes_per_input_row"] = (_mean([
        o.get("artifact_bytes", 0) / o["input_rows"] if o.get("input_rows") else 0.0
        for o in traced_ops]), "B")
    for k in ("minhash_ns", "winnow_ns", "cosine_ns", "pq_encode_ns"):
        m[f"functions.{k}"] = (kernels[k], "ns")
    traced = next(p for p in phases if p["phase"] == "traced")
    m["jvm.gc_s"] = (traced["gc_s"] / len(traced_ops), "s")
    m["jvm.jit_s"] = (traced["jit_s"] / len(traced_ops), "s")
    m["jvm.heap_max_mb"] = (heap_max_mb, "MiB")
    m["host.nproc"] = (nproc, "count")
    m["host.steal_frac"] = (_mean([p["steal_frac"] for p in phases]), "ratio")
    m["host.iowait_frac"] = (_mean([p["iowait_frac"] for p in phases]), "ratio")
    m["trace.overhead"] = (rate(traced_ops) / rate(untraced_ops), "ratio")
    return m


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def worse_by(first, second, better):
    """How much worse the second set's median is than the first's, as a
    share of the first (negative when it is better)."""
    m1, m2 = statistics.median(first), statistics.median(second)
    return (m2 - m1) / m1 if better == "lower" else (m1 - m2) / m1


def steady(first, second, metrics):
    """The acceptance check between two sets of runs of the same
    code. `first`/`second` map metric name -> values; `metrics` is the
    BENCHMARK.json end_to_end list. Returns a list of problems (empty when
    the benchmark is steady)."""
    problems = []
    for m in metrics:
        name, bound = m["name"], m["bound"]
        for label, vals in (("first", first[name]), ("second", second[name])):
            s = spread(vals)
            if s > bound:
                problems.append(f"{name}: {label} spread {s:.3f} > bound {bound}")
        w = worse_by(first[name], second[name], m["better"])
        if w > bound:
            problems.append(f"{name}: second median worse by {w:.3f} > bound {bound}")
    return problems
