"""Metric definitions and the statistics the benchmark reports.

``END_TO_END`` and ``PER_LAYER`` are the single source of the metric
names and units: the worker reports exactly these keys, and
``BENCHMARK.json`` lists the same names (the benchmark's tests hold the
two in step).  Each per-layer metric names the end-to-end metric and the
workload it is expected to move.
"""

from __future__ import annotations

import math
import statistics

# name -> (unit, what it is).  fail_ratio (failed / attempted operations)
# is printed beside these but is not a bounded metric: it is 0 on correct
# code, and the result line carries it as ``failed`` and ``attempted``.
END_TO_END: dict[str, tuple[str, str]] = {
    "setup_s": ("s", "process start to first measured operation: imports, "
                "registry load, session start, fixture staging, warm-up pass"),
    "pass_s": ("s", "median wall time of one measured pass over the op list"),
    "op_p50_s": ("s", "median single-operation latency, pooled over passes"),
    "op_tail_s": ("s", "highest percentile with >=10 samples beyond it"),
}

# name -> (unit, better, moves: "<end-to-end metric> on <workload>")
PER_LAYER: dict[str, tuple[str, str, str]] = {
    "session.start_s": ("s", "lower", "setup_s on all workloads"),
    "registry.load_s": ("s", "lower", "setup_s on all workloads"),
    "operators.build_s": ("s", "lower", "op_tail_s, pass_s on headline"),
    "operators.py4j_calls": ("count", "lower", "op_tail_s, pass_s on headline"),
    "operators.build_jobs": ("count", "lower", "op_tail_s, pass_s on headline"),
    "exec.sink_s": ("s", "lower", "pass_s, op_p50_s on headline"),
    "exec.jobs": ("count", "lower", "pass_s, op_p50_s on headline"),
    "exec.stages": ("count", "lower", "pass_s, op_p50_s on headline"),
    "exec.tasks": ("count", "lower", "pass_s, op_p50_s on headline"),
    "exec.task_busy_s": ("s", "lower", "pass_s, op_p50_s on headline"),
    "exec.busy_ratio": ("ratio", "higher", "pass_s on headline and lakehouse"),
    "exec.input_bytes": ("bytes", "lower", "pass_s on headline"),
    "exec.shuffle_write_bytes": ("bytes", "lower", "pass_s on headline"),
    "exec.spill_bytes": ("bytes", "lower", "op_tail_s on headline"),
    "exec.failed_tasks": ("count", "lower", "pass_s on headline"),
    "tablespec.parse_s": ("s", "lower", "pass_s on lakehouse"),
    "catalog.ddl_s": ("s", "lower", "pass_s on lakehouse"),
    "catalog.append_s": ("s", "lower", "pass_s on lakehouse"),
    "catalog.merge_s": ("s", "lower", "pass_s, op_tail_s on lakehouse"),
    "catalog.delete_s": ("s", "lower", "pass_s on lakehouse"),
    "catalog.update_s": ("s", "lower", "pass_s on lakehouse"),
    "catalog.jobs": ("count", "lower", "pass_s on lakehouse"),
    "catalog.rewrite_amplification": ("ratio", "lower", "op_tail_s on lakehouse"),
    "versioning.commit_s": ("s", "lower", "pass_s on lakehouse"),
    "versioning.merge_s": ("s", "lower", "pass_s, op_tail_s on lakehouse"),
    "versioning.compact_s": ("s", "lower", "pass_s on lakehouse"),
    "versioning.scan_s": ("s", "lower", "pass_s on lakehouse"),
    "versioning.jobs": ("count", "lower", "pass_s on lakehouse"),
    "versioning.scan_file_ratio": ("ratio", "lower", "pass_s on lakehouse"),
    "matview.refresh_s": ("s", "lower", "op_p50_s on lakehouse"),
    "matview.jobs": ("count", "lower", "op_p50_s on lakehouse"),
    "streaming.replay_s": ("s", "lower", "pass_s on lakehouse"),
    "streaming.jobs": ("count", "lower", "pass_s on lakehouse"),
    "streaming.py4j_calls": ("count", "lower", "pass_s on lakehouse"),
    "trace.overhead_ratio": ("ratio", "lower", "none: traced / untraced pass_s"),
    "trace.accounted_ratio": ("ratio", "higher", "none: op time / pass wall"),
}


def tail(samples: list[float], beyond: int = 10) -> tuple[float, int]:
    """The highest whole percentile that still has at least ``beyond``
    samples strictly above it, and that percentile.  With fewer than
    ``beyond + 1`` samples the median is the best the sample supports."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    pct = 50
    for q in range(99, 49, -1):
        v = percentile(xs, q)
        if sum(1 for x in xs if x > v) >= beyond:
            pct = q
            break
    return percentile(xs, pct), pct


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile of sorted ``xs``."""
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(xs: list[float]) -> float:
    return statistics.median(xs)


# op kind -> the per-layer time metric that sums it
_TIME_KINDS = {
    "tablespec.parse": "tablespec.parse_s",
    "catalog.ddl": "catalog.ddl_s",
    "catalog.append": "catalog.append_s",
    "catalog.merge": "catalog.merge_s",
    "catalog.delete": "catalog.delete_s",
    "catalog.update": "catalog.update_s",
    "versioning.commit": "versioning.commit_s",
    "versioning.merge": "versioning.merge_s",
    "versioning.compact": "versioning.compact_s",
    "versioning.scan": "versioning.scan_s",
    "matview.refresh": "matview.refresh_s",
    "streaming.replay": "streaming.replay_s",
}
_STAGE_KEYS = {
    "exec.stages": "stages",
    "exec.tasks": "tasks",
    "exec.task_busy_s": "busy_s",
    "exec.input_bytes": "input_bytes",
    "exec.shuffle_write_bytes": "shuffle_write_bytes",
    "exec.spill_bytes": "spill_bytes",
    "exec.failed_tasks": "failed_tasks",
}
# counters that must repeat exactly from one traced pass to the next
COUNTERS = (
    "operators.py4j_calls",
    "operators.build_jobs",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "catalog.jobs",
    "versioning.jobs",
    "matview.jobs",
    "streaming.jobs",
    "streaming.py4j_calls",
)


def layer_metrics(traced_pass: dict, cores: int) -> dict[str, float]:
    """Per-layer sums over one traced pass.  The ``exec`` layer is the
    sink phase of every op (the run of the plan an op returned); eager
    work an op does while building is charged to the op's own layer."""
    m = {name: 0.0 for name in PER_LAYER}
    written = changed = kept = files = 0
    for r in traced_pass["ops"]:
        kind = r["kind"]
        layer = kind.split(".")[0]
        if kind in _TIME_KINDS:
            m[_TIME_KINDS[kind]] += r["op_s"]
        if layer == "operators":
            m["operators.build_s"] += r["build_s"]
            m["operators.py4j_calls"] += r["build_py4j"]
            m["operators.build_jobs"] += r["build_jobs"]
        elif f"{layer}.jobs" in m:
            m[f"{layer}.jobs"] += r["build_jobs"] + r["sink_jobs"]
        if layer == "streaming":
            m["streaming.py4j_calls"] += r["build_py4j"] + r["sink_py4j"]
        m["exec.sink_s"] += r["sink_s"]
        m["exec.jobs"] += r["sink_jobs"]
        for name, key in _STAGE_KEYS.items():
            m[name] += r["sink_stages"][key]
        if r["changed_rows"]:
            written += r["output_records"]
            changed += r["changed_rows"]
        if "scan_files" in r:
            kept += r["scan_files"]
            files += r["snapshot_files"]
    if m["exec.sink_s"]:
        m["exec.busy_ratio"] = m["exec.task_busy_s"] / (m["exec.sink_s"] * cores)
    if changed:
        m["catalog.rewrite_amplification"] = written / changed
    if files:
        m["versioning.scan_file_ratio"] = kept / files
    m["trace.accounted_ratio"] = (
        sum(r["op_s"] for r in traced_pass["ops"]) / traced_pass["wall_s"]
    )
    return m
