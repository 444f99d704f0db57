"""Benchmark entry point.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 10 --trace 0

Run from the repository root.  Each run is isolated: a fresh worker
process on ``local[nproc]`` with the repository on ``PYTHONPATH`` and its
own run directory (generated fixtures, Spark warehouse,
``SPARK_LOCAL_DIRS``, temp files), deleted afterwards.  Every metric is
printed by name with its unit; the last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a separate traced run.  Exits non-zero without a
result if the engine is missing or the run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from metrics import PER_LAYER  # noqa: E402

WORKER_TIMEOUT_S = 165
DRIVER_MEMORY = "2g"


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop every process of the worker's session (the worker and the
    JVM it launched) and wait until none is left."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline:
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.1)
        else:
            continue
        break
    if proc.poll() is None:
        proc.wait()


def _print_summary(res: dict) -> None:
    wl = res["workload"]
    env = res["env"]
    print(f"# {wl}: seed {env['seed']}, sf {env['sf']}, local[{env['cpus']}], "
          f"driver memory {env['driver_memory']}, Spark {env['spark']}, "
          f"Java {env['java']}, Python {env['python']}, {res['passes']} measured passes")
    print(f"# box probe (diagnostic, never used to scale a metric): "
          + ", ".join(f"{p:.4f} s" for p in res["box_probe_s"]))
    for name, m in res["metrics"].items():
        moves = f"  (moves {PER_LAYER[name][2]})" if name in PER_LAYER else ""
        print(f"{wl:10s} {name:32s} {m['value']:>16.6f} {m['unit']}{moves}")
    if "op_tail_pct" in res:
        print(f"{wl:10s} {'op_tail_s is the percentile':32s} {res['op_tail_pct']:>16d} "
              f"(of {res['op_samples']} op samples)")
    ratio = res["failed"] / res["attempted"]
    print(f"{wl:10s} {'fail_ratio':32s} {ratio:>16.6f} ratio "
          f"({res['failed']}/{res['attempted']})")
    if "counters_repeat" in res:
        print(f"# traced counters repeat exactly across passes: {res['counters_repeat']}")
        print("# last traced pass, per op: build_s sink_s py4j(build) jobs(build+sink)")
        for r in res["ops"]:
            print(f"#   {r['name']:34s} {r['build_s']:8.3f} {r['sink_s']:8.3f} "
                  f"{r['build_py4j']:6d} {r['build_jobs']:3d}+{r['sink_jobs']}")
    for check, problem in res["problems"].items():
        print(f"# CHECK FAILED {check}: {problem}")


def main() -> int:
    t0 = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failure", action="store_true",
                    help="add an op that always raises (for the benchmark's tests)")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "aws_iceberg_automation_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_run", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        for sub in ("local", "tmp"):
            os.makedirs(os.path.join(work, sub))
        result_path = os.path.join(work, "result.json")
        env = dict(
            os.environ,
            PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
            SPARK_GRAFT_CPUS=str(_cpus()),
            SPARK_LOCAL_DIRS=os.path.join(work, "local"),
            TMPDIR=os.path.join(work, "tmp"),
            PERFBENCH_T0=repr(t0),
        )
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--cpus", str(_cpus()),
            "--driver-memory", DRIVER_MEMORY, "--result", result_path,
        ]
        if args.inject_failure:
            cmd.append("--inject-failure")
        proc = subprocess.Popen(cmd, cwd=work, env=env, start_new_session=True)
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"worker exceeded {WORKER_TIMEOUT_S} s", file=sys.stderr)
            code = None
        finally:
            _stop_group(proc)
        if code != 0 or not os.path.exists(result_path):
            print(f"worker failed (exit {code})", file=sys.stderr)
            return 1
        with open(result_path) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there

    _print_summary(res)
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": res["metrics"],
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
