"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The Spark tests start one local session and run shortened workloads, so
the file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import datagen  # noqa: E402
from metrics import COUNTERS, END_TO_END, PER_LAYER, layer_metrics, tail  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_lists_the_reported_metrics():
    b = _benchmark_json()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == {
        k: v[0] for k, v in END_TO_END.items()
    }
    assert {m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]} == {
        k: (v[0], v[1]) for k, v in PER_LAYER.items()
    }
    assert [w["name"] for w in b["workloads"]] == list(datagen.WORKLOAD_DATA)


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 35)]  # 34 samples
    v, pct = tail(xs)
    assert sum(1 for x in xs if x > v) == 10
    assert pct == 72  # p73 would leave only 9 samples beyond it
    assert tail([1.0, 2.0, 3.0]) == (2.0, 50)


def test_fixtures_repeat_per_seed_and_follow_the_engine_schemas():
    from aws_iceberg_automation_spark.io import SCHEMAS

    a = datagen.generate_table("events", 0.001, 5)
    assert a.equals(datagen.generate_table("events", 0.001, 5))
    assert not a.equals(datagen.generate_table("events", 0.001, 6))
    assert a.num_rows == 1000
    for name, schema in SCHEMAS.items():
        assert datagen.generate_table(name, 0.001, 5).column_names == schema.fieldNames()


def test_layer_metrics_sums_one_pass():
    stages = {"stages": 2, "tasks": 8, "failed_tasks": 0, "busy_s": 4.0,
              "input_bytes": 10, "shuffle_write_bytes": 5, "spill_bytes": 0,
              "output_records": 0}
    op = {"kind": "operators.query", "build_s": 1.0, "sink_s": 1.0, "op_s": 2.0,
          "build_py4j": 100, "sink_py4j": 7, "build_jobs": 1, "sink_jobs": 2,
          "sink_stages": stages, "changed_rows": 0, "output_records": 0}
    merge = dict(op, kind="catalog.merge", build_s=0.5, sink_s=0.0, op_s=0.5,
                 sink_jobs=0, changed_rows=10, output_records=40,
                 sink_stages=dict(stages, stages=0, tasks=0, busy_s=0.0))
    m = layer_metrics({"wall_s": 2.5, "ops": [op, merge]}, cores=4)
    assert m["operators.py4j_calls"] == 100
    assert m["operators.build_jobs"] == 1
    assert m["exec.jobs"] == 2
    assert m["exec.busy_ratio"] == 4.0 / (1.0 * 4)
    assert m["catalog.merge_s"] == 0.5
    assert m["catalog.jobs"] == 1
    assert m["catalog.rewrite_amplification"] == 4.0
    assert m["trace.accounted_ratio"] == 1.0
    assert set(m) == set(PER_LAYER)


# -- with Spark ---------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from aws_iceberg_automation_spark.session import get_spark

    wh = tmp_path_factory.mktemp("warehouse")
    s = get_spark(app_name="perfbench-tests", cpus=2, warehouse=str(wh),
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def _traced_passes(spark, wl, n: int = 2) -> list[dict]:
    from tracer import Tracer
    from worker import Runner

    wl.stage()
    runner = Runner(wl)
    runner.run_pass(0, capture={})
    runner.tracer = Tracer(spark)
    try:
        return [runner.run_pass(1 + i) for i in range(n)]
    finally:
        runner.tracer.close()


def test_traced_counters_repeat_exactly_on_headline(spark, tmp_path):
    from workloads import Headline

    datagen.write_fixtures(str(tmp_path / "data"), "headline", 3)
    wl = Headline(spark, str(tmp_path / "data"), 3, str(tmp_path))
    keep = ("q01_pricing_summary", "q208_rfm_segments", "q284_bucketed_join")
    wl.specs = {k: wl.specs[k] for k in keep}
    passes = _traced_passes(spark, wl)
    per_pass = [layer_metrics(p, 2) for p in passes]
    for k in COUNTERS:
        assert per_pass[0][k] == per_pass[1][k], k
    assert per_pass[0]["operators.py4j_calls"] > 0
    assert per_pass[0]["exec.jobs"] >= len(keep)
    assert per_pass[0]["trace.accounted_ratio"] >= 0.9


def test_traced_counters_repeat_exactly_on_lakehouse(spark, tmp_path):
    from workloads import Lakehouse

    datagen.write_fixtures(str(tmp_path / "data"), "lakehouse", 3)
    wl = Lakehouse(spark, str(tmp_path / "data"), 3, str(tmp_path))
    passes = _traced_passes(spark, wl)
    per_pass = [layer_metrics(p, 2) for p in passes]
    for k in COUNTERS:
        assert per_pass[0][k] == per_pass[1][k], k
    for k in ("catalog.jobs", "versioning.jobs", "matview.jobs", "streaming.jobs"):
        assert per_pass[0][k] > 0, k
    assert per_pass[0]["catalog.rewrite_amplification"] > 1


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def test_injected_failure_raises_fail_ratio_and_every_metric_is_printed():
    p = _run(ROOT, "--workload", "headline", "--seed", "4", "--seconds", "1",
             "--trace", "0", "--inject-failure")
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    final = json.loads(lines[-1])
    assert set(final) == {"correct", "attempted", "failed", "metrics"}
    assert final["correct"] is False
    assert final["failed"] == 2  # the injected op, once per measured pass
    assert final["attempted"] == 2 * 18
    assert {k: v["unit"] for k, v in final["metrics"].items()} == {
        k: v[0] for k, v in END_TO_END.items()
    }
    for name, (unit, _) in END_TO_END.items():
        assert any(ln.split()[1:2] == [name] and ln.split()[-1] == unit for ln in lines), name
    assert any(ln.split()[1:2] == ["fail_ratio"] and float(ln.split()[2]) > 0 for ln in lines)


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(str(tmp_path), "--workload", "headline", "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""
