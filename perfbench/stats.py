"""The benchmark's arithmetic: order statistics, the tail rule, span self
time and the per-layer counters computed from a traced run's record."""
import statistics

# Percentiles the tail rule may report, lowest first.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_BEYOND = 10


def median(values):
    return statistics.median(values)


def quartiles(values):
    """First quartile, median, third quartile (statistics.quantiles, n=4)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


def percentile(values, p):
    """Linear-interpolation percentile (numpy's default) of `values`."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values):
    """The highest ladder percentile with at least TAIL_BEYOND samples
    strictly above it. Returns (percentile, value, samples beyond, n); the
    percentile is None when no ladder rung qualifies (fewer than
    2 * TAIL_BEYOND samples), and the value is then the maximum."""
    n = len(values)
    best = None
    for p in TAIL_LADDER:
        v = percentile(values, p)
        beyond = sum(1 for x in values if x > v)
        if beyond >= TAIL_BEYOND:
            best = (p, v, beyond, n)
    return best if best else (None, max(values), 0, n)


def covered(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """span id -> duration minus the part of it its children cover
    (children may overlap each other; the union is subtracted once)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) - covered(kids.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def layer_of(op, layers):
    """The layer whose module `queries` map registers `op`. `layers` maps
    layer name -> op names; an op registered by two layers is an error."""
    owners = [layer for layer, ops in layers.items() if op in ops]
    if len(owners) != 1:
        raise ValueError(f"op {op!r} is registered by {len(owners)} layers: {owners}")
    return owners[0]


COUNTERS = ("calls", "busy_s", "self_s", "plan_s", "task_s", "driver_gap_s",
            "sched_wait_s", "parallelism", "task_failures")
EXTRA_COUNTERS = ("shuffle_mb", "spill_mb", "written_mb", "files_written")


def layer_counters(trace, cores):
    """Per-layer counters from a traced run's spans, jobs, stages and SQL
    executions (times in epoch milliseconds). Work is attributed to a span
    through the job group the span set; spans of the `bench` layer are the
    harness's own."""
    spans = trace["spans"]
    selfs = self_times(spans)
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    by_group = {f"pb{s['id']}": s for s in spans}
    jobs_of = {}
    for j in trace["jobs"]:
        if j["group"] in by_group and j["end"] is not None:
            jobs_of.setdefault(j["group"], []).append(j)
    job_span = {j["id"]: j["group"] for js in jobs_of.values() for j in js}
    stage_tot = {}
    for st in trace["stages"]:
        g = job_span.get(st["job"])
        if g is None:
            continue
        t = stage_tot.setdefault(g, {"run_ms": 0, "sched_ms": 0, "failures": 0,
                                     "shuffle_bytes": 0, "spill_bytes": 0})
        for k in t:
            t[k] += st[k]
    plan_ms = {}
    for e in trace["executions"]:
        if e["group"] in by_group:
            plan_ms[e["group"]] = plan_ms.get(e["group"], 0.0) + e["plan_ms"]

    out = {}
    for s in spans:
        g = f"pb{s['id']}"
        c = out.setdefault(s["layer"], {k: 0.0 for k in COUNTERS + EXTRA_COUNTERS}
                           | {"job_wall_s": 0.0})
        dur = (s["end"] - s["start"]) / 1000.0
        jobs = [(j["start"], j["end"]) for j in jobs_of.get(g, [])]
        job_wall = covered(jobs, s["start"], s["end"]) / 1000.0
        t = stage_tot.get(g, {})
        c["calls"] += 1
        c["busy_s"] += dur
        c["self_s"] += selfs[s["id"]] / 1000.0
        c["plan_s"] += plan_ms.get(g, 0.0) / 1000.0
        c["task_s"] += t.get("run_ms", 0) / 1000.0
        c["job_wall_s"] += job_wall
        # time inside the span that neither its jobs nor its child spans cover
        covered_ms = covered(jobs + kids.get(s["id"], []), s["start"], s["end"])
        c["driver_gap_s"] += (s["end"] - s["start"] - covered_ms) / 1000.0
        c["sched_wait_s"] += t.get("sched_ms", 0) / 1000.0
        c["task_failures"] += t.get("failures", 0)
        c["shuffle_mb"] += t.get("shuffle_bytes", 0) / 1048576.0
        c["spill_mb"] += t.get("spill_bytes", 0) / 1048576.0
        c["written_mb"] += s.get("written_bytes", 0) / 1048576.0
        c["files_written"] += s.get("files_written", 0)
    for c in out.values():
        c["parallelism"] = c["task_s"] / (c["job_wall_s"] * cores) if c["job_wall_s"] > 0 else 0.0
    return out
