"""The benchmark's arithmetic: percentiles, interval unions, per-op
attribution of listener events and per-layer self times. Pure functions,
unit-tested in test_stats.py."""
import math

TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def _rank(n, p):
    """1-based nearest rank of the p-th percentile of n samples (rounded
    first, so that 99.9% of 10000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p * n / 100, 9)))


def beyond(n, p):
    """Samples strictly above the nearest-rank p-th percentile of n."""
    return n - _rank(n, p)


def tail_percentile(n, min_beyond=10):
    """Highest candidate percentile with at least `min_beyond` samples
    beyond it, or None (fewer than 20 samples)."""
    for p in TAIL_CANDIDATES:
        if beyond(n, p) >= min_beyond:
            return p
    return None


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[_rank(len(s), p) - 1]


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [a, b) intervals, clipped to [lo, hi)."""
    return sum(b - a for a, b in _merge(intervals, lo, hi))


def attribute(events):
    """Group listener events by op.

    `events` is the span log in delivery order. The harness drains the
    listener bus before it writes each op_start and op_end marker, so a
    job belongs to the op whose markers enclose its job_start. Stages and
    tasks follow their job through the stage ids the job_start lists, so a
    task-end delivered late still counts for the op that caused it.
    Returns ({op: {"jobs": {id: [t0, t1]}, "stages": [...], "tasks": [...]}},
    count of events no op claims)."""
    ops, current = {}, None
    job_op, stage_op = {}, {}
    pending = []
    for e in events:
        ev = e["ev"]
        if ev == "op_start":
            current = e["op"]
            ops.setdefault(current, {"jobs": {}, "stages": [], "tasks": []})
        elif ev == "op_end":
            current = None
        elif ev == "job_start":
            if current is None:
                continue
            job_op[e["job"]] = current
            ops[current]["jobs"][e["job"]] = [e["t"], None]
            for s in e["stages"]:
                stage_op[s] = current
        else:
            pending.append(e)
    unclaimed = 0
    for e in pending:
        ev = e["ev"]
        if ev == "job_end":
            op = job_op.get(e["job"])
            if op is None:
                continue
            ops[op]["jobs"][e["job"]][1] = e["t"]
        else:
            op = stage_op.get(e["stage"])
            if op is None:
                unclaimed += 1
                continue
            ops[op]["stages" if ev == "stage" else "tasks"].append(e)
    return ops, unclaimed


def breakdown(t0, t1, layer_spans, jobs, stages, tasks):
    """Split one op's wall time [t0, t1) into self times that add up to it:
    the benchmark's own time between layer calls; each layer call's time
    with no Spark job running (driver-side); job time with no stage
    running (scheduling); stage time with no task running; and time with
    at least one task running. Intervals are epoch milliseconds; the
    result is seconds."""
    job_iv = [(a, b if b is not None else t1) for a, b in jobs]
    stage_iv = [(s["t0"], s["t1"]) for s in stages if s["t0"] >= 0 and s["t1"] >= 0]
    task_iv = [(t["t0"], t["t1"]) for t in tasks]
    out = {}
    covered = 0.0
    for name, a, b in layer_spans:
        wall = b - a
        in_jobs = union_length(job_iv, a, b)
        out[name] = out.get(name, 0.0) + (wall - in_jobs) / 1000
        covered += wall
    out["bench"] = (t1 - t0 - covered) / 1000
    all_jobs = union_length(job_iv, t0, t1)
    # stage time counts only while one of the op's jobs runs, task time
    # only while one of its stages does
    in_jobs = _intersect(_merge(stage_iv, t0, t1), _merge(job_iv, t0, t1))
    stages_in_jobs = sum(b - a for a, b in in_jobs)
    tasks_in_stages = sum(union_length(task_iv, a, b) for a, b in in_jobs)
    out["spark.job_sched"] = (all_jobs - stages_in_jobs) / 1000
    out["spark.stage_idle"] = (stages_in_jobs - tasks_in_stages) / 1000
    out["spark.task_busy"] = tasks_in_stages / 1000
    return out


def _intersect(xs, ys):
    """Intersection of two merged, sorted interval lists."""
    out, i, j = [], 0, 0
    while i < len(xs) and j < len(ys):
        a, b = max(xs[i][0], ys[j][0]), min(xs[i][1], ys[j][1])
        if b > a:
            out.append((a, b))
        if xs[i][1] < ys[j][1]:
            i += 1
        else:
            j += 1
    return out


def _merge(intervals, lo, hi):
    """Sorted, disjoint union of intervals clipped to [lo, hi)."""
    out = []
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out
