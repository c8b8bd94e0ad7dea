"""Reductions from a raw run record to the benchmark's metrics.

Pure functions over plain dicts, so they can be tested without a JVM.
"""
import math
import statistics

# Minimum samples beyond a reported percentile for it to mean anything.
MIN_TAIL = 10


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least a share
    q of all samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def tail_samples(n, q):
    """Samples strictly beyond the nearest-rank q-percentile position."""
    return n - max(0, math.ceil(q * n)) if n else 0


def min_samples(q, tail=MIN_TAIL):
    """Smallest sample count that leaves `tail` samples beyond the
    q-percentile (100 for p90 with 10 beyond)."""
    n = 1
    while tail_samples(n, q) < tail:
        n += 1
    return n


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


# ---- failure accounting -------------------------------------------------

def failed_ops(ops, check_results):
    """Indices of timed operations that threw or whose output a check
    rejected. A check naming no operations vouches for every operation of
    its kind (their results are the same function of the same inputs)."""
    failed = {o["i"] for o in ops if not o["ok"]}
    for c in check_results:
        if c["ok"]:
            continue
        if c["ops"]:
            failed.update(c["ops"])
        else:
            failed.update(o["i"] for o in ops if o["kind"] == c["kind"])
    return failed


# ---- listener attribution ----------------------------------------------

def op_of_group(group):
    """'op-12' or 'op-12/sp-40' -> 12; anything else -> None."""
    if not group.startswith("op-"):
        return None
    head = group.split("/", 1)[0][3:]
    return int(head) if head.isdigit() else None


def per_op_spark(ops, events):
    """Jobs, stages, tasks, shuffle bytes, spill, executor time and driver
    gap per timed operation, from listener events grouped by job group."""
    stages = {}
    for s in events["stages"]:
        stages[s["id"]] = s  # last attempt wins
    by_group = {g: o["i"] for o in ops for g in o.get("groups") or []}
    jobs_of = {o["i"]: [] for o in ops}
    for j in events["jobs"]:
        i = op_of_group(j["group"])
        if i is None:
            i = by_group.get(j["group"])
        if i in jobs_of:
            jobs_of[i].append(j)
    out = {}
    for o in ops:
        js = jobs_of[o["i"]]
        st = [stages[sid] for j in js for sid in j["stage_ids"] if sid in stages]
        out[o["i"]] = {
            "jobs": len(js),
            "stages": len(st),
            "tasks": sum(s["tasks"] for s in st),
            "shuffle_read_bytes": sum(s["shuffle_read"] for s in st),
            "shuffle_write_bytes": sum(s["shuffle_write"] for s in st),
            "spill_bytes": sum(s["spill"] for s in st),
            "executor_run_s": sum(s["run_ms"] for s in st) / 1000.0,
            "driver_gap_s": driver_gap(o["start_ms"], o["end_ms"],
                                       [(j["start_ms"], j["end_ms"]) for j in js]),
        }
    return out


def driver_gap(start_ms, end_ms, intervals):
    """Operation wall time not covered by any running job, in seconds."""
    covered = 0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start_ms), min(e if e >= 0 else end_ms, end_ms))
                       for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(0, (end_ms - start_ms) - covered) / 1000.0


def counts_by_kind(counts):
    """Per operation type jobs/stages/tasks of the fixed-partition pass."""
    if not counts:
        return {}
    stages = {s["id"]: s for s in counts["events"]["stages"]}
    out = {}
    for op in counts["ops"]:
        g = f"count-{op['k']}"
        js = [j for j in counts["events"]["jobs"]
              if j["group"] == g or j["group"].startswith(g + "/")
              or j["group"] in op.get("groups", [])]
        st = [stages[sid] for j in js for sid in j["stage_ids"] if sid in stages]
        c = out.setdefault(op["kind"], {"jobs": 0, "stages": 0, "tasks": 0})
        c["jobs"] += len(js)
        c["stages"] += len(st)
        c["tasks"] += sum(s["tasks"] for s in st)
    return out


# ---- spans ---------------------------------------------------------------

def self_times(spans):
    """Span id -> self time in seconds: duration minus the durations of its
    direct children."""
    dur = {s["id"]: (s["end_ns"] - s["start_ns"]) / 1e9 for s in spans}
    child = {}
    for s in spans:
        if s["parent"] >= 0:
            child[s["parent"]] = child.get(s["parent"], 0.0) + dur[s["id"]]
    return {i: d - child.get(i, 0.0) for i, d in dur.items()}


def layer_self(spans, groups=None):
    """Layer -> total self seconds over spans (optionally only those whose
    operation group is in `groups`)."""
    st = self_times(spans)
    out = {}
    for s in spans:
        if groups is not None and s["group"] not in groups:
            continue
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out


def write_share(spans, read_s):
    """Encode-and-write share of a conversion: the mean `sources.write`
    span (conversions only; a season combine has a span of its own) minus
    the mean read-only pass over the same runs."""
    w = mean((s["end_ns"] - s["start_ns"]) / 1e9 for s in spans if s["name"] == "sources.write")
    return max(0.0, w - read_s)


def trace_overhead(ops):
    """Relative latency cost of tracing: traced against untraced operations
    of the same kind, weighted by the untraced time of each kind."""
    num = den = 0.0
    for kind in {o["kind"] for o in ops}:
        t = [o["latency_s"] for o in ops if o["kind"] == kind and o["traced"]]
        u = [o["latency_s"] for o in ops if o["kind"] == kind and not o["traced"]]
        if t and u:
            num += len(t) * (statistics.median(t) - statistics.median(u))
            den += len(t) * statistics.median(u)
    return num / den if den else 0.0
