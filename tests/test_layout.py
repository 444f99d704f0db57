"""Z-order layout (sources/layout.py): a selective filter on ANY
clustered dimension must skip files (measured from actual parquet
footer min/max stats), where a single-column sort skips only on its own
column. Note Z-order does not shrink total bounding-box area — it
balances per-dimension widths (0.25×0.5 instead of 0.125×1.0), which is
exactly what multi-dimension data skipping needs."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from aws_iceberg_automation_spark.io import load_table
from aws_iceberg_automation_spark.sources.layout import write_zordered
from tests.conftest import SF_DIR

N_FILES = 8


def _file_ranges(path: str, col: str) -> list[tuple[float, float]]:
    out = []
    for f in glob.glob(f"{path}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        lo = hi = None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    s = c.statistics
                    lo = s.min if lo is None else min(lo, s.min)
                    hi = s.max if hi is None else max(hi, s.max)
        if lo is not None:
            out.append((lo, hi))
    assert out, f"no footer stats for {col} under {path}"
    return out


def _files_overlapping(path: str, col: str, q_lo: float, q_hi: float) -> int:
    return sum(
        1 for lo, hi in _file_ranges(path, col) if not (hi < q_lo or lo > q_hi)
    )


def test_zorder_skips_on_both_dimensions(spark, tmp_path):
    # two ~uniform dimensions so rank space ≈ value space
    ev = load_table(spark, SF_DIR, "events").select("user_id", "event_id", "value")
    naive = str(tmp_path / "naive")
    zord = str(tmp_path / "zorder")
    (
        ev.repartitionByRange(N_FILES, "user_id")
        .sortWithinPartitions("user_id")
        .write.mode("overwrite")
        .parquet(naive)
    )
    write_zordered(ev, zord, ["user_id", "event_id"], n_files=N_FILES)

    stats = {
        c: ev.agg(F.min(c), F.max(c)).collect()[0] for c in ("user_id", "event_id")
    }

    def centered_window(col, frac=0.02):
        lo, hi = stats[col]
        mid, half = (lo + hi) / 2, (hi - lo) * frac / 2
        return mid - half, mid + half

    u_q = centered_window("user_id")
    e_q = centered_window("event_id")

    # single-column sort: perfect on its own column, useless on the other
    assert _files_overlapping(naive, "user_id", *u_q) <= 2
    assert _files_overlapping(naive, "event_id", *e_q) == N_FILES

    # Z-order: meaningful skipping on BOTH dimensions
    z_u = _files_overlapping(zord, "user_id", *u_q)
    z_e = _files_overlapping(zord, "event_id", *e_q)
    assert z_u < N_FILES * 0.8, f"user_id query hit {z_u}/{N_FILES} files"
    assert z_e < N_FILES * 0.8, f"event_id query hit {z_e}/{N_FILES} files"

    # correctness: layout is a permutation, not a transformation
    back = spark.read.parquet(zord)
    assert back.count() == ev.count()
    assert back.agg(F.sum("event_id")).collect()[0][0] == (
        ev.agg(F.sum("event_id")).collect()[0][0]
    )


def test_zorder_plan_has_no_single_partition_window(spark):
    """The Z-address computation must contain no WindowExec at all —
    ranks come from approx-quantile boundaries inlined as CASE-sum
    literals (round-2 verdict item: the old percent_rank global
    window)."""
    from aws_iceberg_automation_spark.sources.layout import zorder_frame

    ev = load_table(spark, SF_DIR, "events").select("user_id", "event_id")
    zf = zorder_frame(ev, ["user_id", "event_id"])
    plan = zf._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "percent_rank" not in plan
    # regression guard: a broken rank (e.g. a two-arg HOF lambda binding
    # the array INDEX instead of the value) yields a constant _z — the
    # curve must actually spread over many addresses
    n_distinct = zf.select("_z").distinct().count()
    assert n_distinct > 500, f"z-curve collapsed to {n_distinct} addresses"


def test_zorder_string_dimension_clusters_lexicographically(spark, tmp_path):
    """String clustered columns rank through an order-preserving
    byte-prefix surrogate — files must carry narrow string ranges, and
    unsupported types must be rejected loudly."""
    import pytest as _pytest
    from pyspark.sql import functions as SF

    from aws_iceberg_automation_spark.sources.layout import zorder_frame

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", SF.format_string("user%07d", "user_id").alias("tag")
    )
    zf = zorder_frame(ev, ["tag", "event_id"])
    assert zf.select("_z").distinct().count() > 100
    # monotone: low-lexicographic tags should concentrate at low ranks —
    # check by correlating the surrogate rank with the sort order
    sample = zf.orderBy("_z").limit(200).select("tag").collect()
    lo_tags = {r.tag for r in sample}
    hi = zf.orderBy(SF.col("_z").desc()).limit(200).select("tag").collect()
    hi_tags = {r.tag for r in hi}
    assert min(lo_tags) < min(hi_tags)
    assert max(lo_tags) < max(hi_tags)
    with _pytest.raises(TypeError, match="unsupported type"):
        zorder_frame(
            ev.select("event_id", SF.array("event_id").alias("arr")),
            ["arr"],
        )
