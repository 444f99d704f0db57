"""The benchmark's workloads, built only from the engine's public entry
points: ``registry.all_specs()[name].fn`` with a noop sink,
``TableSpec``/``TableManager``, ``VersionedTable`` and
``IncrementalAggView``.

A workload stages its inputs, lists the operations of one pass (the
seed fixes the order and the inputs of every pass), and checks the
outputs of the warm-up pass against DuckDB.  Operations run one at a
time: one client in a closed loop.
"""

from __future__ import annotations

import importlib.util
import os
import random
from collections.abc import Callable
from dataclasses import dataclass, replace
from typing import Any

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from aws_iceberg_automation_spark.catalog import TableManager
from aws_iceberg_automation_spark.io import SCHEMAS, TABLES
from aws_iceberg_automation_spark.matview import IncrementalAggView, Measure
from aws_iceberg_automation_spark.registry import all_specs
from aws_iceberg_automation_spark.tablespec import TableSpec
from aws_iceberg_automation_spark.versioning import VersionedTable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_compare():
    """``compare`` from scripts/verify_contract.py: the registry's own
    driver-faithful result comparison (type-family strict)."""
    path = os.path.join(ROOT, "scripts", "verify_contract.py")
    spec = importlib.util.spec_from_file_location("verify_contract", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


@dataclass
class Op:
    """One operation.  ``build`` does the work and may return a
    DataFrame, which ``sink`` then forces.  ``kind`` is the layer-level
    name the trace sums over; ``check`` names the output check that
    vouches for it."""

    name: str
    kind: str
    build: Callable[[], Any]
    sink: Callable[[Any], Any] | None = None
    check: str | None = None
    changed_rows: int = 0  # rows a row-level op changes (reference model)
    probe: Callable[[], dict[str, float]] | None = None  # traced-only extras


def noop_sink(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _duck(data_dir: str, tables: list[str]):
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    return con


class Headline:
    """The 17 ``bench``-tagged registry queries, each built and then run
    into the noop sink.  The seed permutes the query order per pass."""

    name = "headline"

    def __init__(self, spark, data_root: str, seed: int, work_dir: str):
        self.spark = spark
        self.data_dir = os.path.join(data_root, "sf0.01")
        self.seed = seed
        self.specs = {n: s for n, s in all_specs().items() if "bench" in s.tags}

    def stage(self) -> None:
        pass

    def ops(self, pass_idx: int) -> list[Op]:
        names = sorted(self.specs)
        random.Random(f"{self.seed}:{pass_idx}").shuffle(names)
        return [
            Op(
                name=n,
                kind="operators.query",
                build=lambda fn=self.specs[n].fn: fn(self.spark, self.data_dir),
                sink=noop_sink,
                check=n,
            )
            for n in names
        ]

    def check(self, captured: dict[str, Any]) -> dict[str, str]:
        """Problems per check name; a query without oracle SQL must
        return at least one row."""
        compare = _load_compare()
        con = _duck(self.data_dir, list(TABLES))
        problems: dict[str, str] = {}
        for name, spec in self.specs.items():
            got = captured.get(name)
            try:
                if got is None:
                    problems[name] = "no output captured"
                elif spec.oracle is None:
                    if len(got) == 0:
                        problems[name] = "no rows"
                else:
                    bad = compare(got, con.sql(spec.oracle).df())
                    if bad:
                        problems[name] = "; ".join(bad)
            except Exception as ex:  # a check that cannot run is a failure
                problems[name] = f"check error: {ex!r}"
        return problems


# The lakehouse's aggregate read and view, as DuckDB computes them.
_AGG_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS total
FROM {src} GROUP BY event_type
"""


class Lakehouse:
    """Layer A's write lifecycle on ``events``.

    Per pass: the YAML spec is parsed and its table dropped and created;
    two seeded batches are appended, then merged, deleted from and
    updated (parquet copy-on-write), and aggregated.  The same batches
    are committed to a ``VersionedTable`` with an ``IncrementalAggView``
    refreshed after each commit, followed by a merge, a compaction, a
    filtered scan and a view read.  Last, the registry's streaming
    dedup replay q76 runs on the same events.
    """

    name = "lakehouse"
    n_batches = 2
    n_staged = 4  # passes with their own inputs; later passes reuse them
    # the streaming layer: a watermarked dedup replay, five microbatches.
    # It is the cheapest stateful replay in the registry (about 2.6 s on
    # 4 cores; q72 takes 3.3 s, q266 4.5 s, q77 and q180 7 s), and a run
    # must fit the benchmark's time budget.
    replay_query = "q76_stream_dedup_replay"

    def __init__(self, spark, data_root: str, seed: int, work_dir: str):
        self.spark = spark
        self.data_dir = os.path.join(data_root, "sf0.01")
        self.seed = seed
        self.work = os.path.join(work_dir, "lakehouse")
        self.yml = os.path.join(ROOT, "tablespecs", "events_bronze.yml")
        self.tm = TableManager(spark)
        self.replay = all_specs()[self.replay_query]
        self.plan: dict[int, dict] = {}

    # -- inputs ----------------------------------------------------------

    def stage(self) -> None:
        """Write every staged pass's batches and merge source as parquet,
        and fix its delete and update predicates."""
        events = pq.read_table(os.path.join(self.data_dir, "events.parquet"))
        n = events.num_rows
        n_users = pc.max(events["user_id"]).as_py() + 1
        types = sorted(set(events["event_type"].to_pylist()))
        for p in range(self.n_staged):
            rng = np.random.default_rng([self.seed, p])
            d = os.path.join(self.work, f"in{p}")
            os.makedirs(d)
            batches = np.array_split(rng.permutation(n), self.n_batches)
            for i, idx in enumerate(batches):
                pq.write_table(events.take(np.sort(idx)), os.path.join(d, f"batch{i}.parquet"))
            # merge source: 1% of rows updated in place plus 1% new ids
            upd = events.take(np.sort(rng.choice(n, n // 100, replace=False)))
            upd = upd.set_column(
                upd.schema.get_field_index("value"), "value",
                pa.array(np.round(upd["value"].to_numpy() * 1.5 + 1.0, 2)),
            )
            new = events.take(np.sort(rng.choice(n, n // 100, replace=False)))
            new = new.set_column(0, "event_id", pa.array(new["event_id"].to_numpy() + n))
            pq.write_table(pa.concat_tables([upd, new]), os.path.join(d, "merge.parquet"))
            plan = {
                "dir": d,
                "delete": f"user_id % 10 = {int(rng.integers(0, 10))}",
                "update": f"event_type = '{types[int(rng.integers(0, len(types)))]}'",
                "scan_below": int(rng.integers(n_users // 8, n_users // 4)),
            }
            plan["changed"] = self._reference_counts(plan)
            self.plan[p] = plan

    def _read(self, path: str):
        return self.spark.read.schema(SCHEMAS["events"]).parquet(path)

    # -- one pass ----------------------------------------------------------

    def table_name(self, p: int) -> str:
        return f"bronze.events_raw_p{p}"

    def ops(self, pass_idx: int) -> list[Op]:
        p = pass_idx
        plan = self.plan[p % self.n_staged]
        d = plan["dir"]
        fq = self.table_name(p)
        batch = [os.path.join(d, f"batch{i}.parquet") for i in range(self.n_batches)]
        merge_src = os.path.join(d, "merge.parquet")
        counts = plan["changed"]
        scan_filter = [("user_id", "<", plan["scan_below"])]
        root = os.path.join(self.work, f"p{p}")
        vt = VersionedTable(self.spark, os.path.join(root, "events"))
        view = IncrementalAggView(
            self.spark, vt, os.path.join(root, "view"),
            group_by=["event_type"],
            measures=[
                Measure("n", "count"),
                Measure("total", "sum", F.col("value").cast("decimal(18,2)")),
            ],
        )
        state: dict[str, Any] = {}

        def parse():
            state["spec"] = replace(TableSpec.from_yaml(self.yml), table=fq.split(".")[1])

        def ddl():
            self.tm.drop_table(fq)
            self.tm.create_table(state["spec"])

        def scan_probe():
            snapshot = vt.snapshot(vt.current_version())
            return {"scan_files": len(vt.plan_files(scan_filter)),
                    "snapshot_files": len(snapshot.files)}

        ops = [
            Op("tablespec.parse", "tablespec.parse", parse, check="catalog.table"),
            Op("catalog.ddl", "catalog.ddl", ddl, check="catalog.table"),
        ]
        ops += [
            Op(f"catalog.append{i}", "catalog.append",
               lambda b=b: self.tm.append(fq, self._read(b)), check="catalog.table")
            for i, b in enumerate(batch)
        ]
        ops += [
            Op("catalog.merge", "catalog.merge",
               lambda: self.tm.merge_upsert(fq, self._read(merge_src), on=["event_id"]),
               check="catalog.table", changed_rows=counts["merge"]),
            Op("catalog.delete", "catalog.delete",
               lambda: self.tm.delete_where(fq, plan["delete"]),
               check="catalog.table", changed_rows=counts["delete"]),
            Op("catalog.update", "catalog.update",
               lambda: self.tm.update_where(fq, plan["update"], {"value": "value + 1.0"}),
               check="catalog.table", changed_rows=counts["update"]),
            Op("catalog.read", "catalog.read",
               lambda: self.tm.table(fq).groupBy("event_type").agg(
                   F.count(F.lit(1)).alias("n"),
                   F.sum(F.col("value").cast("decimal(18,2)")).cast("string").alias("total"),
               ),
               sink=lambda df: df.collect(), check="catalog.read"),
        ]
        for i, b in enumerate(batch):
            ops += [
                Op(f"versioning.commit{i}", "versioning.commit",
                   lambda b=b: vt.write(self._read(b), mode="append"),
                   check="versioning.table"),
                Op(f"matview.refresh{i}", "matview.refresh",
                   view.refresh, check="matview.read"),
            ]
        ops += [
            Op("versioning.merge", "versioning.merge",
               lambda: vt.merge(self._read(merge_src), on=["event_id"]),
               check="versioning.table"),
            Op("versioning.compact", "versioning.compact",
               vt.compact, check="versioning.table"),
            Op("versioning.scan", "versioning.scan",
               lambda: vt.scan(scan_filter),
               sink=noop_sink, check="versioning.scan", probe=scan_probe),
            Op("matview.read", "matview.read",
               lambda: view.read().select(
                   "event_type", "n", F.col("total").cast("string").alias("total")),
               sink=lambda df: df.collect(), check="matview.read"),
            Op(self.replay_query, "streaming.replay",
               lambda: self.replay.fn(self.spark, self.data_dir),
               sink=noop_sink, check=self.replay_query),
        ]
        return ops

    # -- reference model -------------------------------------------------

    def _reference_sql(self, plan: dict) -> dict[str, str]:
        """DuckDB SQL for every checked output of one pass."""
        d = plan["dir"]
        batches = f"read_parquet('{d}/batch*.parquet')"
        merge = f"read_parquet('{d}/merge.parquet')"
        merged = (
            f"(SELECT * FROM {batches} WHERE event_id NOT IN "
            f"(SELECT event_id FROM {merge}) UNION ALL SELECT * FROM {merge})"
        )
        table = (
            f"(SELECT event_id, user_id, event_type, ts, "
            f"CASE WHEN {plan['update']} THEN value + 1.0 ELSE value END AS value, props "
            f"FROM {merged} WHERE NOT ({plan['delete']}))"
        )
        return {
            "batches": batches,
            "merge": merge,
            "merged": merged,
            "catalog.table": f"SELECT * FROM {table}",
            "catalog.read": _AGG_SQL.format(src=table),
            "versioning.table": f"SELECT * FROM {merged}",
            "versioning.scan": f"SELECT * FROM {merged} WHERE user_id < {plan['scan_below']}",
            "matview.read": _AGG_SQL.format(src=batches),
        }

    def _reference_counts(self, plan: dict) -> dict[str, int]:
        """Rows each row-level op changes, for rewrite amplification."""
        q = self._reference_sql(plan)
        con = duckdb.connect()
        one = lambda sql: con.sql(sql).fetchone()[0]  # noqa: E731
        after_merge = f"SELECT * FROM {q['merged']} WHERE NOT ({plan['delete']})"
        return {
            "merge": one(f"SELECT COUNT(*) FROM {q['merge']}"),
            "delete": one(f"SELECT COUNT(*) FROM {q['merged']} WHERE {plan['delete']}"),
            "update": one(f"SELECT COUNT(*) FROM ({after_merge}) WHERE {plan['update']}"),
        }

    def check(self, captured: dict[str, Any]) -> dict[str, str]:
        """Compare pass 0's final tables and view with DuckDB's
        recomputation of the same batches, merge, delete and update."""
        compare = _load_compare()
        plan = self.plan[0]
        q = self._reference_sql(plan)
        con = duckdb.connect()
        vt = VersionedTable(self.spark, os.path.join(self.work, "p0", "events"))
        got = {
            "catalog.table": lambda: self.tm.table(self.table_name(0)).toPandas(),
            "catalog.read": lambda: captured["catalog.read"],
            "versioning.table": lambda: vt.read().toPandas(),
            "versioning.scan": lambda: captured["versioning.scan"],
            "matview.read": lambda: captured["matview.read"],
        }
        problems: dict[str, str] = {}
        for name, fetch in got.items():
            try:
                bad = compare(fetch(), con.sql(q[name]).df())
                if bad:
                    problems[name] = "; ".join(bad)
            except Exception as ex:  # a check that cannot run is a failure
                problems[name] = f"check error: {ex!r}"
        try:
            ev = _duck(self.data_dir, ["events"])
            bad = compare(captured[self.replay_query], ev.sql(self.replay.oracle).df())
            if bad:
                problems[self.replay_query] = "; ".join(bad)
        except Exception as ex:
            problems[self.replay_query] = f"check error: {ex!r}"
        return problems


WORKLOADS = {w.name: w for w in (Headline, Lakehouse)}
