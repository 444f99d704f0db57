"""One benchmark run inside a fresh process (started by ``run.py``).

Sets up the engine, runs a warm-up pass whose outputs are kept for the
check, then measured passes until ``--seconds`` have passed (at least
two), checks the outputs, and writes the result as JSON to ``--result``.

``--trace 0`` measures the end-to-end metrics with no tracing at all.
``--trace 1`` alternates untraced passes (the overhead baseline) with
traced passes, and reports the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import sys
import time
import traceback

T_START = float(os.environ.get("PERFBENCH_T0", time.monotonic()))
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from datagen import WORKLOAD_DATA, write_fixtures  # noqa: E402
from metrics import COUNTERS, END_TO_END, PER_LAYER, layer_metrics, median, tail  # noqa: E402

MIN_PASSES = 2
# The fixture tables are the same in every run; the run's seed drives what
# varies between runs (query order, batches, predicates), so seeds add no
# data-size noise to the spread between runs.
FIXTURE_SEED = 42


def box_probe() -> float:
    """Fastest of three runs of a fixed pure-Python loop, in seconds: a
    box-speed diagnostic reported beside the metrics, never used to scale
    them, that makes drift between two sets of runs visible."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc * 31 + i) % 1_000_003
        best = min(best, time.perf_counter() - t0)
    return best


class Runner:
    """Runs passes of a workload's ops and records per-op timings (and,
    with a tracer, per-op counters)."""

    def __init__(self, workload):
        self.wl = workload
        self.tracer = None

    def run_pass(self, pass_idx: int, capture: dict | None = None) -> dict:
        ops = self.wl.ops(pass_idx)
        recs = []
        t0 = time.perf_counter()
        for op in ops:
            recs.append(self.run_op(op, capture))
        wall = time.perf_counter() - t0
        if self.tracer is not None:
            for op, rec in zip(ops, recs):
                self._stage_metrics(op, rec)
        return {"wall_s": wall, "ops": recs}

    def run_op(self, op, capture: dict | None) -> dict:
        rec = {"name": op.name, "kind": op.kind, "check": op.check,
               "changed_rows": op.changed_rows, "error": None}
        tr = self.tracer
        sink = op.sink
        if capture is not None and sink is not None:
            sink = lambda df: capture.__setitem__(op.check, df.toPandas())  # noqa: E731
        m0 = tr.begin(op.name) if tr else None
        m1 = t1 = None
        t0 = time.perf_counter()
        try:
            out = op.build()
            t1 = time.perf_counter()
            m1 = tr.mark() if tr else None
            if sink is not None:
                sink(out)
        except Exception as ex:  # an op failure is counted, not fatal
            rec["error"] = f"{type(ex).__name__}: {ex}"
            print(f"[op-error] {op.name}: {rec['error']}", file=sys.stderr, flush=True)
            traceback.print_exc(file=sys.stderr)
        t2 = time.perf_counter()
        t1 = t2 if t1 is None else t1
        rec.update(build_s=t1 - t0, sink_s=t2 - t1, op_s=t2 - t0)
        if tr:
            m2 = tr.mark()
            rec["marks"] = (m0, m1 or m2, m2)
            if op.probe is not None and rec["error"] is None:
                rec.update(op.probe())
        return rec

    def _stage_metrics(self, op, rec) -> None:
        """Counters of one traced op, read after its pass has ended."""
        m0, m1, m2 = rec.pop("marks")
        tr = self.tracer
        rec["build_jobs"] = m1.job - m0.job
        rec["sink_jobs"] = m2.job - m1.job
        rec["build_py4j"] = tr.calls(m0, m1)
        rec["sink_py4j"] = tr.calls(m1, m2) if m1 is not m2 else 0  # build raised
        rec["sink_stages"] = vars(tr.stage_totals(m1.stage, m2.stage))
        rec["output_records"] = (
            tr.stage_totals(m0.stage, m2.stage).output_records if op.changed_rows else 0
        )


def measure(runner: Runner, seconds: float) -> list[dict]:
    """Whole passes until ``seconds`` have passed, at least MIN_PASSES."""
    passes: list[dict] = []
    t0 = time.monotonic()
    while len(passes) < MIN_PASSES or time.monotonic() - t0 < seconds:
        passes.append(runner.run_pass(1 + len(passes)))
    return passes


def measure_traced(runner: Runner, spark, seconds: float) -> tuple[list[dict], list[dict]]:
    """Untraced and traced passes in the order U T T U U T T U ..., which
    cancels a linear warm-up trend from the traced / untraced ratio, until
    ``seconds`` have passed and each side has MIN_PASSES."""
    from tracer import Tracer

    untraced: list[dict] = []
    traced: list[dict] = []
    t0 = time.monotonic()
    p = 1
    while min(len(untraced), len(traced)) < MIN_PASSES or time.monotonic() - t0 < seconds:
        if p % 4 in (0, 1):
            untraced.append(runner.run_pass(p))
        else:
            runner.tracer = Tracer(spark)
            try:
                traced.append(runner.run_pass(p))
            finally:
                runner.tracer.close()
                runner.tracer = None
        p += 1
    return untraced, traced


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_DATA))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--driver-memory", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--inject-failure", action="store_true",
                    help="add an op that always raises (for the benchmark's tests)")
    args = ap.parse_args()
    probes = [box_probe()]
    data = os.path.join(args.work, "data")
    write_fixtures(data, args.workload, FIXTURE_SEED)

    t = time.monotonic()
    from aws_iceberg_automation_spark import registry

    registry.all_specs()
    registry_load_s = time.monotonic() - t

    from aws_iceberg_automation_spark.session import get_spark

    t = time.monotonic()
    tmp = os.path.join(args.work, "tmp")
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        cpus=args.cpus,
        warehouse=os.path.join(args.work, "warehouse"),
        extra_conf={
            "spark.driver.memory": args.driver_memory,
            # temp files stay in the run directory (no /tmp/hsperfdata)
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.monotonic() - t

    from workloads import WORKLOADS, Op

    wl = WORKLOADS[args.workload](spark, data, args.seed, args.work)
    if args.inject_failure:
        ops = wl.ops

        def failing() -> None:
            raise RuntimeError("injected failure")

        wl.ops = lambda p: ops(p) + [Op("injected", "injected.fail", failing, check="injected")]
    wl.stage()
    runner = Runner(wl)
    captured: dict = {}
    warm = runner.run_pass(0, capture=captured)
    setup_s = time.monotonic() - T_START

    if args.trace:
        untraced, passes = measure_traced(runner, spark, args.seconds)
    else:
        passes = measure(runner, args.seconds)

    problems = wl.check(captured)
    for r in warm["ops"]:
        if r["error"]:
            problems.setdefault(r["check"], f"warm-up pass: {r['error']}")
    probes.append(box_probe())

    ops = [r for p in passes for r in p["ops"]]
    failed = sum(1 for r in ops if r["error"] or r["check"] in problems)
    result = {
        "workload": args.workload,
        "attempted": len(ops),
        "failed": failed,
        "correct": failed == 0 and not problems,
        "problems": problems,
        "passes": len(passes),
        "env": {
            "cpus": args.cpus,
            "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
            "spark": spark.version,
            "java": spark._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "sf": {d: sf for d, (sf, _) in WORKLOAD_DATA[args.workload].items()},
            "seed": args.seed,
        },
        "box_probe_s": probes,
    }
    if args.trace:
        cores = spark.sparkContext.defaultParallelism
        per_pass = [layer_metrics(p, cores) for p in passes]
        layer = {k: median([m[k] for m in per_pass]) for k in PER_LAYER}
        layer["session.start_s"] = session_start_s
        layer["registry.load_s"] = registry_load_s
        layer["trace.overhead_ratio"] = (
            median([p["wall_s"] for p in passes]) / median([p["wall_s"] for p in untraced])
        )
        result["metrics"] = {k: {"value": layer[k], "unit": PER_LAYER[k][0]} for k in PER_LAYER}
        result["counters_repeat"] = all(
            len({m[k] for m in per_pass}) == 1 for k in COUNTERS
        )
        result["ops"] = passes[-1]["ops"]
    else:
        samples = [r["op_s"] for r in ops]
        op_tail_s, pct = tail(samples)
        values = {
            "setup_s": setup_s,
            "pass_s": median([p["wall_s"] for p in passes]),
            "op_p50_s": median(samples),
            "op_tail_s": op_tail_s,
        }
        result["metrics"] = {k: {"value": values[k], "unit": END_TO_END[k][0]} for k in END_TO_END}
        result["op_tail_pct"] = pct
        result["op_samples"] = len(samples)
    spark.stop()
    with open(args.result, "w") as f:
        json.dump(result, f, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())
