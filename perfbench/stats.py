"""Metrics from the benchmark JVM's raw result file.

The JVM records ops, per-call samples, counters and, on traced runs, spans
plus Spark job/stage records. Everything statistical happens here so it can
be tested without a JVM.
"""
import math
import statistics

MIN_BEYOND = 10  # a tail percentile needs at least this many samples above it


def tail_percentile(n):
    """Highest whole percentile with at least ten of `n` samples beyond it
    (nearest rank), or None when there is none at or above the median."""
    if n < 2 * MIN_BEYOND:
        return None
    return math.floor(100 * (n - MIN_BEYOND) / n)


def percentile(xs, p):
    """Nearest-rank percentile of `xs`."""
    s = sorted(xs)
    if not s:
        return float("nan")
    k = max(1, math.ceil(p / 100 * len(s)))
    return s[k - 1]


def beyond(xs, p):
    """How many samples lie above the nearest-rank percentile `p`."""
    return len(xs) - max(1, math.ceil(p / 100 * len(xs)))


def tail(xs):
    """(percentile used, value). Below twenty samples there is no tail
    percentile with ten samples beyond it; the maximum stands in, labelled
    100."""
    p = tail_percentile(len(xs))
    if p is None:
        return 100, max(xs) if xs else float("nan")
    return p, percentile(xs, p)


def error_rate(ops):
    """Failed ops over attempted ops; exceptions, timeouts and failed output
    checks all count as failed."""
    if not ops:
        return 1.0
    return sum(1 for o in ops if not o["ok"]) / len(ops)


def median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def durations(ops, kinds=None):
    return [o["endMs"] - o["startMs"] for o in ops if kinds is None or o["kind"] in kinds]


def round_walls(result):
    """Per round: the summed duration of its ops, in seconds."""
    ops = result["ops"]
    return [sum(o["endMs"] - o["startMs"] for o in ops[a:b]) / 1000 for a, b in result["rounds"]]


def union_ms(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_spans(result, next_id):
    """Job and stage spans from the listener records, nested under the op
    and innermost harness span whose time window holds the job's start
    (ops run one at a time, so the window decides)."""
    spans = result["spans"]
    by_trace = {}
    for s in spans:
        by_trace.setdefault(s["trace"], []).append(s)
    ops = result["ops"]
    out = []
    stages_by_job = {}
    for st in result["stages"]:
        stages_by_job.setdefault(st["job"], []).append(st)
    for job in result["jobs"]:
        start, end = job["start"], job["end"]
        if end is None:
            continue
        op = next((o for o in ops if o["startMs"] <= start <= o["endMs"]), None)
        if op is None:
            continue
        inner = [s for s in by_trace.get(op["id"], []) if s["startMs"] <= start <= s["endMs"]]
        parent = min(inner, key=lambda s: s["endMs"] - s["startMs"])["id"] if inner else 0
        jid = next_id
        next_id += 1
        out.append({"id": jid, "parent": parent, "trace": op["id"], "name": "spark.job",
                    "startMs": start, "endMs": end, "job": job["id"]})
        for st in stages_by_job.get(job["id"], []):
            if st["submit"] is None or st["end"] is None:
                continue
            out.append({"id": next_id, "parent": jid, "trace": op["id"], "name": "spark.stage",
                        "startMs": st["submit"], "endMs": st["end"], "stage": st["id"]})
            next_id += 1
    return out


def self_times(spans):
    """Per span name: summed self time in ms, the span's duration minus the
    part of it its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["startMs"], s["startMs"]), min(c["endMs"], s["endMs"]))
                for c in children.get(s["id"], [])]
        kids = [(a, b) for a, b in kids if b > a]
        own = (s["endMs"] - s["startMs"]) - union_ms(kids)
        out[s["name"]] = out.get(s["name"], 0.0) + max(0.0, own)
    return out


def layer_of(span_name):
    """`catalog.register` → `catalog`; op spans belong to the harness."""
    return "harness" if span_name.startswith("op.") else span_name.split(".")[0]


def per_op_spark(result):
    """Spark counters summed per op over the jobs attributed to it."""
    ops = result["ops"]
    per = {o["id"]: {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
                     "wait_ms": 0.0, "task_time_ms": 0.0, "shuffle_read": 0,
                     "shuffle_write": 0, "spill": 0, "input": 0, "output": 0}
           for o in ops}
    job_op = {}
    for job in result["jobs"]:
        op = next((o for o in ops if o["startMs"] <= job["start"] <= o["endMs"]), None)
        if op is not None:
            job_op[job["id"]] = op["id"]
            per[op["id"]]["jobs"] += 1
    skews = []
    for st in result["stages"]:
        oid = job_op.get(st["job"])
        if oid is None:
            continue
        p = per[oid]
        p["stages"] += 1
        p["tasks"] += st["tasks"]
        p["failed_tasks"] += st["failed_tasks"]
        launch_wait = 0.0
        if st["first_launch"] is not None and st["submit"] is not None:
            launch_wait = max(0.0, st["first_launch"] - st["submit"])
        p["wait_ms"] += launch_wait + st["scheduler_delay_ms"]
        p["task_time_ms"] += st["task_time_ms"]
        for k in ("shuffle_read", "shuffle_write", "spill", "input", "output"):
            p[k] += st[k]
        if st["tasks"] >= 2:
            skews.append(st["skew"])
    return per, skews
