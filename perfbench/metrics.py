"""Pure pieces of the benchmark: entry order, percentiles, span roll-up.

Nothing here touches Spark, the file system or the clock, so
`test_metrics.py` checks all of it in milliseconds.
"""
import random
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
P90_MIN_SAMPLES = 100  # so that >= 10 samples lie beyond the 90th percentile


def valid_name(name):
    return bool(NAME_RE.fullmatch(name))


def valid_unit(unit):
    return bool(UNIT_RE.fullmatch(unit))


def pass_orders(entries, workload, seed, n):
    """n seed-permuted orders of `entries`, one per pass. The same
    (workload, seed) always gives the same orders; the entry set never
    changes, so every seed runs the same work."""
    rng = random.Random(f"{workload}:{seed}")
    return [rng.sample(list(entries), len(entries)) for _ in range(n)]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    """Linear-interpolated q-quantile (0 <= q <= 1) of a non-empty list."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def p90_or_none(xs):
    """The 90th percentile, or None below P90_MIN_SAMPLES samples: fewer
    than 10 samples beyond it would make it a reading of one or two
    outliers."""
    return quantile(xs, 0.9) if len(xs) >= P90_MIN_SAMPLES else None


def steal_share(busy, steal):
    """Share of the VM's CPU demand that the hypervisor stole during a
    window: stolen jiffies over busy plus stolen ones (all CPUs summed)."""
    return steal / (busy + steal) if steal > 0 else 0.0


def net_of_steal(seconds, share):
    """A wall time with the host's interference taken out. One factor of
    (1 - share) removes the stolen time; the second removes the slowdown of
    the time that was not stolen, because a host busy enough to steal also
    shares its cores and caches with the VM. README.md, "Steadiness", has
    the readings this model was checked against."""
    return seconds * (1.0 - share) ** 2


def spread(xs):
    """Inter-quartile distance as a share of the median, as
    statistics.quantiles(n=4) gives the quartiles."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def union_length(intervals):
    """Total length covered by (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
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


def self_time(span, children):
    """span duration minus the part of it its children cover (children
    clipped to the span, overlaps counted once)."""
    s, e = span["start_us"], span["end_us"]
    clipped = [(max(s, c["start_us"]), min(e, c["end_us"])) for c in children]
    return (e - s) - union_length([iv for iv in clipped if iv[0] < iv[1]])


WINDOWS = ("run", "setup", "check", "pass", "entry", "hygiene", "build", "write")


def resolve_parents(spans):
    """Give each listener span with parent -1 the innermost driver window
    (run/setup/check/pass/entry/hygiene/build/write) whose interval holds
    its start. Returns {id: parent}."""
    windows = [s for s in spans if s["name"] in WINDOWS and s["end_us"] >= 0]
    parent = {}
    for s in spans:
        p = s["parent"]
        if p < 0 and s["name"] not in WINDOWS:
            best = None
            for w in windows:
                if w["start_us"] <= s["start_us"] <= w["end_us"] and (
                        best is None or w["start_us"] >= best["start_us"]):
                    best = w
            p = best["id"] if best else -1
        parent[s["id"]] = p
    return parent


def ancestors(sid, parent):
    out = []
    while sid >= 0:
        out.append(sid)
        sid = parent.get(sid, -1)
    return out


def rollup(spans, cores):
    """Per-layer metrics of each traced pass, keyed by the pass span id."""
    parent = resolve_parents(spans)
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(parent[s["id"]], []).append(s)

    def window(sid, names):
        for a in ancestors(sid, parent):
            if by_id[a]["name"] in names:
                return by_id[a]
        return None

    out = {}
    for p in (s for s in spans if s["name"] == "pass" and s["attrs"].get("traced")):
        m = dict.fromkeys(LAYER_SUMS, 0.0)
        write_wall = 0.0
        batches, state_rows, state_mem, queries = [], {}, 0.0, 0
        write_stages = []
        for s in spans:
            if window(s["id"], ("pass",)) is not p:
                continue
            n, a = s["name"], s["attrs"]
            dur = (s["end_us"] - s["start_us"]) / 1e6
            if n == "build":
                m["queries.build_s"] += dur
                m["queries.build_self_s"] += self_time(s, kids.get(s["id"], [])) / 1e6
            elif n == "write":
                write_wall += dur
                m["scheduler.write_self_s"] += self_time(s, kids.get(s["id"], [])) / 1e6
            elif n == "job":
                w = window(s["id"], ("build", "write"))
                if w is not None and w["name"] == "build":
                    m["queries.build_jobs"] += 1
                elif w is not None:
                    m["scheduler.jobs"] += 1
            elif n == "stage":
                w = window(s["id"], ("build", "write"))
                m["sources.input_mb"] += a["input_b"] / 1e6
                m["sources.input_records"] += a["input_rec"]
                m["sources.output_mb"] += a["output_b"] / 1e6
                m["sources.output_records"] += a["output_rec"]
                if w is not None and w["name"] == "build":
                    m["queries.build_tasks"] += a["tasks"]
                elif w is not None:
                    write_stages.append(s)
            elif n.startswith("catalyst.") and n != "catalyst.execution":
                key = f"catalyst.{n.split('.', 1)[1]}_ms"
                if key in m:
                    m[key] += dur * 1e3
            elif n == "catalyst.execution":
                m["catalyst.executions"] += 1
            elif n == "stream.query":
                queries += 1
            elif n == "stream.batch":
                batches.append(dur * 1e3)
                q = a["query_id"]
                state_rows[q] = max(state_rows.get(q, 0), a["state_rows"])
                state_mem = max(state_mem, a["state_mem_b"] / 1e6)
        for s in write_stages:
            a = s["attrs"]
            m["scheduler.stages"] += 1
            m["scheduler.tasks"] += a["tasks"]
            m["scheduler.task_run_s"] += a["run_ms"] / 1e3
            m["scheduler.task_cpu_s"] += a["cpu_ns"] / 1e9
            m["scheduler.gc_s"] += a["gc_ms"] / 1e3
            m["scheduler.max_task_s"] = max(m["scheduler.max_task_s"], a["max_task_ms"] / 1e3)
            m["scheduler.shuffle_read_mb"] += a["shuffle_read_b"] / 1e6
            m["scheduler.shuffle_write_mb"] += a["shuffle_write_b"] / 1e6
            m["scheduler.spill_mb"] += a["spill_b"] / 1e6
            wall = (s["end_us"] - s["start_us"]) / 1e6
            m["scheduler.stage_gap_s"] += max(0.0, wall - a["max_task_ms"] / 1e3)
        m["scheduler.tasks_per_stage"] = (
            m["scheduler.tasks"] / m["scheduler.stages"] if m["scheduler.stages"] else 0.0)
        m["scheduler.core_util"] = (
            m["scheduler.task_run_s"] / (write_wall * cores) if write_wall else 0.0)
        m["streaming.queries"] = queries
        m["streaming.batches"] = len(batches)
        m["streaming.batch_p50_ms"] = quantile(batches, 0.5) if batches else 0.0
        m["streaming.batch_p90_ms"] = quantile(batches, 0.9) if batches else 0.0
        m["streaming.state_rows"] = sum(state_rows.values())
        m["streaming.state_mem_mb"] = state_mem
        out[p["id"]] = m
    return out


LAYER_SUMS = (
    "queries.build_s", "queries.build_self_s", "queries.build_jobs",
    "queries.build_tasks", "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "catalyst.executions", "scheduler.jobs",
    "scheduler.stages", "scheduler.tasks", "scheduler.write_self_s",
    "scheduler.stage_gap_s", "scheduler.task_run_s", "scheduler.task_cpu_s",
    "scheduler.max_task_s", "scheduler.gc_s", "scheduler.shuffle_read_mb",
    "scheduler.shuffle_write_mb", "scheduler.spill_mb", "sources.input_mb",
    "sources.input_records", "sources.output_mb", "sources.output_records")
