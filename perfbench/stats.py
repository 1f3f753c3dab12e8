"""Arithmetic of the benchmark's metrics, kept apart so its tests need no
Spark: percentile selection, failure share, span self time, and the
per-layer roll-up of one traced run's report."""
import math
import statistics


def percentile(values, q, min_beyond=0):
    """Nearest-rank q-quantile of `values`, or None when fewer than
    `min_beyond` samples lie above its rank (a p90 needs ten beyond it)."""
    xs = sorted(values)
    if not xs:
        return None
    rank = max(1, math.ceil(q * len(xs)))
    if len(xs) - rank < min_beyond:
        return None
    return xs[rank - 1]


def failed_frac(attempted, failed):
    """Share of attempted operations that failed: a throw, a time-limit
    cancel and an output mismatch each count once."""
    if attempted < 1:
        raise ValueError("no operation attempted")
    return failed / attempted


def union_length(intervals):
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


def self_time(parent, children):
    """A span's duration minus the union of its children's intervals,
    each clipped to the parent."""
    ps, pe = parent
    clipped = [(max(s, ps), min(e, pe)) for s, e in children]
    return (pe - ps) - union_length([c for c in clipped if c[1] > c[0]])


def self_times_by_kind(spans):
    """Sum of self time (ms) per span kind."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        if s["end_ms"] is None or s["start_ms"] is None:
            continue
        ch = [(c["start_ms"], c["end_ms"]) for c in kids.get(s["id"], [])
              if c["end_ms"] is not None]
        out[s["kind"]] = out.get(s["kind"], 0.0) + self_time((s["start_ms"], s["end_ms"]), ch)
    return out


SPAN_KINDS = ["query", "build", "plan", "execute", "job", "stage"]
KERNELS = ["word_shingles_rows_per_s", "min_hash64_rows_per_s", "sim_hash60_rows_per_s",
           "lsh_buckets_rows_per_s", "token_counts_rows_per_s", "cosine_pairs_per_s"]


def _sum(queries, phase_keys, key):
    return sum(q["counters"].get(p, {}).get(key, 0) for q in queries for p in phase_keys)


def layer_metrics(report, out_rows, pair_family):
    """Per-pass per-layer metrics of a traced run. `out_rows` maps a query
    to its verified output row count."""
    traced = [q for q in report["queries"] if q["traced"]]
    tpasses = [p for p in report["passes"] if p["traced"]]
    upasses = [p for p in report["passes"] if not p["traced"]]
    n = len(tpasses)
    both = ["build", "execute"]
    MB = 1024.0 * 1024.0
    per = lambda v: v / n  # noqa: E731
    wall = sum(p["wall_s"] for p in tpasses)
    task_run_s = _sum(traced, both, "task_run_ms") / 1000.0
    pairs = [q for q in traced if q["name"] in pair_family]
    pair_records = _sum(pairs, both, "shuffle_records")
    pair_out = sum(out_rows.get(q["name"], 0) for q in pairs)
    m = {
        "session_start_s": report["session_start_s"],
        "build_s": per(sum(q["build_s"] for q in traced)),
        "build_jobs": per(_sum(traced, ["build"], "jobs")),
        "plan_analysis_ms": per(_sum(traced, both, "analysis_ms")),
        "plan_optimization_ms": per(_sum(traced, both, "optimization_ms")),
        "plan_physical_ms": per(_sum(traced, both, "planning_ms")),
        "exec_s": per(sum(q["exec_s"] for q in traced)),
        "jobs": per(_sum(traced, both, "jobs")),
        "stages": per(_sum(traced, both, "stages")),
        "tasks": per(_sum(traced, both, "tasks")),
        "task_run_s": per(task_run_s),
        "task_cpu_s": per(_sum(traced, both, "task_cpu_ns") / 1e9),
        "task_wait_s": per(_sum(traced, both, "task_wait_ms") / 1000.0),
        "core_util": task_run_s / (wall * report["cores"]),
        "gc_s": per(_sum(traced, both, "task_gc_ms") / 1000.0),
        "shuffle_write_mb": per(_sum(traced, both, "shuffle_write_bytes") / MB),
        "shuffle_read_mb": per(_sum(traced, both, "shuffle_read_bytes") / MB),
        "shuffle_records": per(_sum(traced, both, "shuffle_records")),
        "spill_mb": per(_sum(traced, both, "spill_bytes") / MB),
        "pair_yield": pair_out / pair_records if pair_records else 0.0,
        "input_mb": per(_sum(traced, both, "input_bytes") / MB),
        "output_mb": per(_sum(traced, both, "output_bytes") / MB),
        "micro_batches": per(_sum(traced, both, "batches")),
        "batch_trigger_ms": per(_sum(traced, both, "trigger_ms")),
        "batch_planning_ms": per(_sum(traced, both, "batch_planning_ms")),
        "batch_add_ms": per(_sum(traced, both, "add_batch_ms")),
        "batch_commit_ms": per(_sum(traced, both, "commit_ms")),
        "state_rows": per(_sum(traced, both, "state_rows")),
        "state_mem_mb": per(_sum(traced, both, "state_mem_bytes") / MB),
    }
    for k in ["jit_ms", "gc_ms", "codegen_compile_ms", "codegen_classes"]:
        m[k] = report["jvm"][k]
    for k in KERNELS:
        m["kernel." + k] = report["kernels"][k]
    selfs = self_times_by_kind(report["spans"])
    for k in SPAN_KINDS:
        m[f"self.{k}_ms"] = per(selfs.get(k, 0.0))
    m["trace_overhead_s"] = (statistics.median(p["wall_s"] for p in tpasses)
                             - statistics.median(p["wall_s"] for p in upasses))
    return m


def per_query_table(report):
    """Per-query traced counters, summed over traced passes then divided by
    the number of traced executions of that query."""
    rows = {}
    for q in report["queries"]:
        if not q["traced"]:
            continue
        r = rows.setdefault(q["name"], {"n": 0, "build_s": 0.0, "exec_s": 0.0, "build_jobs": 0,
                                         "jobs": 0, "tasks": 0, "task_run_s": 0.0,
                                         "shuffle_write_mb": 0.0})
        c = q["counters"]
        r["n"] += 1
        r["build_s"] += q["build_s"]
        r["exec_s"] += q["exec_s"]
        r["build_jobs"] += c.get("build", {}).get("jobs", 0)
        for p in ("build", "execute"):
            r["jobs"] += c.get(p, {}).get("jobs", 0)
            r["tasks"] += c.get(p, {}).get("tasks", 0)
            r["task_run_s"] += c.get(p, {}).get("task_run_ms", 0) / 1000.0
            r["shuffle_write_mb"] += c.get(p, {}).get("shuffle_write_bytes", 0) / 1048576.0
    for r in rows.values():
        n = r.pop("n")
        for k in r:
            r[k] /= n
        wall = r["build_s"] + r["exec_s"]
        r["core_util"] = r["task_run_s"] / (wall * report["cores"]) if wall else 0.0
    return rows
