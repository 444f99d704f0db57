"""Incremental materialized-view maintenance: after any sequence of
source appends + refreshes, the view state must equal the from-scratch
aggregate of the full source — and an incremental refresh must read
only the delta window, not the whole table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_iceberg_automation_spark.matview import IncrementalAggView, Measure
from aws_iceberg_automation_spark.versioning import VersionedTable


def _rows(spark, lo, hi, keys=("a", "b", None)):
    return spark.range(lo, hi).select(
        F.element_at(
            F.array(*[F.lit(k) for k in keys]), (F.col("id") % len(keys) + 1).cast("int")
        ).alias("k"),
        (F.col("id") % 7).cast("double").alias("v"),
    )


@pytest.fixture()
def view(spark, tmp_path):
    src = VersionedTable(spark, str(tmp_path / "src"))
    mv = IncrementalAggView(
        spark,
        src,
        str(tmp_path / "mv"),
        group_by=["k"],
        measures=[
            Measure("total", "sum", F.col("v").cast("decimal(18,2)")),
            Measure("n", "count"),
            Measure("lo", "min", F.col("v")),
            Measure("hi", "max", F.col("v")),
        ],
    )
    return src, mv


def _expect(spark, src):
    return {
        (r.k): (float(r.total), r.n, r.lo, r.hi)
        for r in src.read()
        .groupBy("k")
        .agg(
            F.sum(F.col("v").cast("decimal(18,2)")).alias("total"),
            F.count(F.lit(1)).alias("n"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
        .collect()
    }


def _got(mv):
    return {
        (r.k): (float(r.total), r.n, r.lo, r.hi) for r in mv.read().collect()
    }


def test_refresh_matches_full_recompute_across_appends(spark, view):
    src, mv = view
    src.write(_rows(spark, 0, 100))
    mv.refresh()
    assert _got(mv) == _expect(spark, src)

    src.write(_rows(spark, 100, 180), mode="append")
    src.write(_rows(spark, 180, 300), mode="append")
    mv.refresh()  # one refresh covering two appended versions
    assert _got(mv) == _expect(spark, src)
    # NULL is a real group and must merge correctly
    assert None in _got(mv)


def test_refresh_is_incremental_and_idempotent(spark, view):
    src, mv = view
    src.write(_rows(spark, 0, 100))
    mv.refresh()
    assert mv.staleness() == 0
    assert mv.refresh() is None  # fresh → no-op, no new snapshot

    src.write(_rows(spark, 100, 150), mode="append")
    assert mv.staleness() == 1
    # the incremental path must scan only the delta window's files
    delta = src.changes(mv.last_refreshed_source_version())
    assert delta.count() == 50
    assert len(delta.inputFiles()) < len(src.read().inputFiles())
    mv.refresh()
    assert _got(mv) == _expect(spark, src)
    assert mv.last_refreshed_source_version() == src.current_version()


def test_rewrite_in_window_falls_back_to_rebuild(spark, view):
    src, mv = view
    src.write(_rows(spark, 0, 100))
    mv.refresh()
    src.write(_rows(spark, 100, 150), mode="append")
    src.delete_where("v = 3.0")  # rewrite commit — delta window invalid
    mv.refresh()
    assert _got(mv) == _expect(spark, src)
    assert mv.staleness() == 0


def test_refresh_lookup_decodes_a_constant_number_of_manifests(
    spark, view, monkeypatch
):
    """A refresh finds the source version its state reflects without
    decoding the view's whole snapshot log: the 10th refresh decodes
    as many manifests as the 2nd, and staleness() decodes none."""
    src, mv = view
    decodes = []
    decode = VersionedTable.snapshot

    def counting(self, version):
        decodes.append(version)
        return decode(self, version)

    monkeypatch.setattr(VersionedTable, "snapshot", counting)
    per_refresh = {}
    for n in range(1, 11):
        src.write(_rows(spark, n * 10, n * 10 + 10), mode="append")
        decodes.clear()
        mv.refresh()
        per_refresh[n] = len(decodes)
        decodes.clear()
        assert mv.staleness() == 0
        assert decodes == []
    assert per_refresh[10] == per_refresh[2]
    assert mv.last_refreshed_source_version() == src.current_version() == 10
    assert _got(mv) == _expect(spark, src)


def test_streaming_ingest_feeds_incremental_view(spark, tmp_path):
    """End-to-end ingest→rollup: day-by-day appends into a versioned
    table (the shape the exactly-once streaming sink commits), each
    followed by an incremental view refresh that reads only that day's
    delta — no full rescan after the first build, final state equal to
    the from-scratch aggregate."""
    from aws_iceberg_automation_spark.io import load_table
    from tests.conftest import SF_DIR

    src = VersionedTable(spark, str(tmp_path / "stream_src"))
    mv = IncrementalAggView(
        spark,
        src,
        str(tmp_path / "stream_mv"),
        group_by=["event_type"],
        measures=[
            Measure("total", "sum", F.col("value").cast("decimal(18,2)")),
            Measure("n", "count"),
        ],
    )
    ev = load_table(spark, SF_DIR, "events")

    # first "day": half the events land, view built
    half = ev.count() // 2
    first = ev.orderBy("event_id").limit(half)
    src.write(first)
    mv.refresh()
    v_after_first = mv.last_refreshed_source_version()

    # second "day": the rest appended; refresh consumes only the delta
    rest = ev.join(first.select("event_id"), "event_id", "left_anti")
    src.write(rest, mode="append")
    assert mv.staleness() == 1
    mv.refresh()

    expect = {
        r.event_type: (float(r.total), r.n)
        for r in ev.groupBy("event_type")
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    got = {r.event_type: (float(r.total), r.n) for r in mv.read().collect()}
    assert got == expect
    assert mv.last_refreshed_source_version() == v_after_first + 1


def test_approx_distinct_measure_merges_as_sketch(spark, tmp_path):
    """HLL sketch measures: estimates after N incremental refreshes must
    match the from-scratch exact distinct within sketch error (±2-3%),
    state stays binary + re-mergeable, and the same ids appended twice
    must NOT inflate the estimate (union semantics, not sum)."""
    src = VersionedTable(spark, str(tmp_path / "src"))
    mv = IncrementalAggView(
        spark,
        src,
        str(tmp_path / "mv"),
        group_by=["k"],
        measures=[
            Measure("n_users", "approx_distinct", F.col("uid")),
            Measure("n", "count"),
        ],
    )

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.when(F.col("id") % 2 == 0, "even").otherwise("odd").alias("k"),
            (F.col("id") % 5000).alias("uid"),  # wraps: re-appends repeat uids
        )

    src.write(batch(0, 4000))
    mv.refresh()
    src.write(batch(2000, 8000), mode="append")  # half duplicate uids
    mv.refresh()
    src.write(batch(0, 1000), mode="append")  # fully duplicate uids
    mv.refresh()

    # raw state: sketches are binary, not numbers
    raw = dict(mv.read().select("k", "n_users").collect())
    assert all(isinstance(v, (bytes, bytearray)) for v in raw.values())

    est = {r.k: r.n_users for r in mv.read(estimated=True).collect()}
    exact = {
        r.k: r.exact
        for r in src.read()
        .groupBy("k")
        .agg(F.countDistinct("uid").alias("exact"))
        .collect()
    }
    assert set(est) == set(exact)
    for k in exact:
        err = abs(est[k] - exact[k]) / exact[k]
        assert err < 0.05, f"group {k}: est {est[k]} vs exact {exact[k]} ({err:.1%})"
    # duplicate-heavy appends must not inflate counts past the id domain
    assert est["even"] < 2500 * 1.05 and est["odd"] < 2500 * 1.05


def test_countmin_measure_merges_cell_for_cell(spark, tmp_path):
    """CMS measures (q193/q194's sketch as a view measure): after N
    incremental refreshes the stored cell array must EQUAL the
    from-scratch build over the full source, cell for cell (integer
    cells merge by addition — the same mergeability the streaming
    build proves), point estimates never undercount the exact
    frequency, and mixed-kind views (countmin alongside sum/count)
    keep every measure correct through the partial-join path."""
    src = VersionedTable(spark, str(tmp_path / "src"))

    def mk_view(root):
        return IncrementalAggView(
            spark,
            src,
            str(tmp_path / root),
            group_by=["k"],
            measures=[
                Measure("n", "count"),
                Measure("traffic", "countmin", F.col("uid"), depth=4, width=64),
            ],
        )

    mv = mk_view("mv")

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.when(F.col("id") % 2 == 0, "even").otherwise("odd").alias("k"),
            (F.col("id") % 97).alias("uid"),  # skewed repeats
        )

    src.write(batch(0, 1500))
    mv.refresh()
    src.write(batch(1500, 4000), mode="append")
    src.write(batch(0, 800), mode="append")  # duplicates: cells must ADD
    mv.refresh()

    # delta-refreshed state == from-scratch build, cell for cell
    scratch = mk_view("mv_scratch")
    scratch.refresh()
    got = {r.k: (r.n, list(r.traffic)) for r in mv.read().collect()}
    want = {r.k: (r.n, list(r.traffic)) for r in scratch.read().collect()}
    assert got == want
    # each seed row of the sketch counts every event exactly once
    for k, (n, cells) in got.items():
        assert len(cells) == 4 * 64
        for seed in range(4):
            assert sum(cells[seed * 64 : (seed + 1) * 64]) == n

    # point estimates from state alone: one-sided error vs exact
    probes = spark.createDataFrame([(u,) for u in range(0, 97, 13)], ["item"])
    est = {
        (r.k, r.item): r.traffic_estimate
        for r in mv.cms_point_estimate("traffic", probes).collect()
    }
    exact = {
        (r.k, r.uid): r.c
        for r in src.read()
        .groupBy("k", "uid")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert est, "no estimates returned"
    for (k, item), e in est.items():
        assert e >= exact.get((k, item), 0), (k, item, e)


def test_countmin_point_estimate_coerces_probe_type(spark, tmp_path):
    """xxhash64 is type-sensitive; probes of the wrong type must be
    coerced to the measure's build type (not silently hashed as-is,
    which would address arbitrary cells and break the one-sided
    bound). String probes against an integer-built sketch must return
    the same estimates as integer probes."""
    src = VersionedTable(spark, str(tmp_path / "src"))
    mv = IncrementalAggView(
        spark,
        src,
        str(tmp_path / "mv"),
        group_by=["k"],
        measures=[Measure("traffic", "countmin", F.col("uid"), width=64)],
    )
    src.write(
        spark.range(0, 2000).select(
            F.lit("all").alias("k"), (F.col("id") % 37).alias("uid")
        )
    )
    mv.refresh()
    ints = spark.createDataFrame([(u,) for u in range(0, 37, 5)], ["item"])
    strs = ints.select(F.col("item").cast("string").alias("item"))
    est_i = {r.item: r.traffic_estimate
             for r in mv.cms_point_estimate("traffic", ints).collect()}
    est_s = {int(r.item): r.traffic_estimate
             for r in mv.cms_point_estimate("traffic", strs).collect()}
    assert est_i == est_s
    exact = {r.uid: r.c for r in src.read().groupBy("uid")
             .agg(F.count(F.lit(1)).alias("c")).collect()}
    for u, e in est_i.items():
        assert e >= exact[u]


def test_countmin_point_estimate_rejects_uncastable_probes(spark, tmp_path):
    """A probe that can't coerce to the build type must raise, not
    silently estimate xxhash64(NULL)'s cells (non-ANSI cast-to-NULL) or
    die with CAST_INVALID_INPUT (ANSI). try_cast makes the behavior
    mode-independent; the eager check makes it loud."""
    src = VersionedTable(spark, str(tmp_path / "src"))
    mv = IncrementalAggView(
        spark,
        src,
        str(tmp_path / "mv"),
        group_by=["k"],
        measures=[Measure("traffic", "countmin", F.col("uid"), width=64)],
    )
    src.write(
        spark.range(0, 100).select(
            F.lit("all").alias("k"), (F.col("id") % 7).alias("uid")
        )
    )
    mv.refresh()
    bad = spark.createDataFrame([("3",), ("xyz",)], ["item"])
    with pytest.raises(ValueError, match="cannot be coerced"):
        mv.cms_point_estimate("traffic", bad)


def test_countmin_null_items_contribute_no_cells(spark, tmp_path):
    """NULL input values are EXCLUDED from the sketch build (ADVICE r4:
    they previously landed in real cells that NULL-dropping probes
    could never query — pure over-count noise breaking the tightness
    of the one-sided bound). Pins: (1) a build with extra NULL items
    yields bitwise-identical cells to the NULL-free build; (2) a group
    whose items are ALL NULL still surfaces, with all-zero cells (the
    partial-combine inner join requires identical group sets)."""
    src_a = VersionedTable(spark, str(tmp_path / "a"))
    src_b = VersionedTable(spark, str(tmp_path / "b"))

    def mk_view(src, root):
        return IncrementalAggView(
            spark,
            src,
            str(tmp_path / root),
            group_by=["k"],
            measures=[
                Measure("n", "count"),
                Measure("traffic", "countmin", F.col("uid"), depth=4, width=64),
            ],
        )

    base = spark.range(0, 300).select(
        F.lit("g1").alias("k"), (F.col("id") % 13).alias("uid")
    )
    with_nulls = base.unionByName(
        spark.range(0, 50).select(
            F.lit("g1").alias("k"), F.lit(None).cast("bigint").alias("uid")
        )
    ).unionByName(
        # a group with ONLY NULL items must still appear in the view
        spark.range(0, 10).select(
            F.lit("gnull").alias("k"), F.lit(None).cast("bigint").alias("uid")
        )
    )
    src_a.write(base)
    src_b.write(with_nulls)
    mv_a, mv_b = mk_view(src_a, "mv_a"), mk_view(src_b, "mv_b")
    mv_a.refresh()
    mv_b.refresh()

    cells_a = {r.k: list(r.traffic) for r in mv_a.read().collect()}
    cells_b = {r.k: list(r.traffic) for r in mv_b.read().collect()}
    assert cells_b["g1"] == cells_a["g1"]  # NULLs added zero cells
    assert set(cells_b) == {"g1", "gnull"}
    assert cells_b["gnull"] == [0] * (4 * 64)
    counts = {r.k: r.n for r in mv_b.read().collect()}
    assert counts == {"g1": 350, "gnull": 10}  # count() still counts rows


def test_quantile_sample_measure_refresh_equals_rebuild(spark, tmp_path):
    """The bottom-k quantile sample is order-insensitive and exactly
    mergeable: state after N incremental refreshes must be BIT-EQUAL
    to a from-scratch build over the full source (stronger than the
    error-bound claim — it pins the merge algebra), and the estimate
    read off the sample must sit within the O(1/√k) rank bound of the
    exact percentile."""
    from aws_iceberg_automation_spark.matview import IncrementalAggView, Measure
    from aws_iceberg_automation_spark.versioning import VersionedTable

    def rows(lo, hi):
        return spark.range(lo, hi).select(
            (F.col("id") % 3).cast("string").alias("k"),
            F.col("id").alias("rid"),
            # deterministic value with a skewed tail
            (F.pmod(F.col("id") * 37, F.lit(1000))).cast("long").alias("v"),
        )

    src = VersionedTable(spark, str(tmp_path / "qsrc"))
    src.write(rows(0, 400), "append")

    def mk(root):
        return IncrementalAggView(
            spark,
            src,
            str(tmp_path / root),
            group_by=["k"],
            measures=[
                Measure("n", "count"),
                Measure(
                    "qs",
                    "quantile_sample",
                    F.col("v"),
                    key=F.col("rid"),
                    sample_size=64,
                ),
            ],
        )

    mv = mk("qmv")
    mv.refresh()
    src.write(rows(400, 700), "append")
    mv.refresh()
    src.write(rows(700, 900), "append")
    mv.refresh()
    assert mv.staleness() == 0

    rebuilt = mk("qmv_rebuild")
    rebuilt.refresh()  # single full build over all 900 rows

    inc = {
        r.k: (r.n, [(s.h, s.v) for s in r.qs])
        for r in mv.read().collect()
    }
    full = {
        r.k: (r.n, [(s.h, s.v) for s in r.qs])
        for r in rebuilt.read().collect()
    }
    assert inc == full  # bit-equal state, not just close estimates

    est = {r.k: r.qs_p50 for r in mv.sample_quantile("qs", 50).collect()}
    exact = {
        r.k: r.p50
        for r in src.read()
        .groupBy("k")
        .agg(F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)").alias("p50"))
        .collect()
    }
    vals = src.read()
    for k, e in est.items():
        grp = vals.filter(F.col("k") == k)
        n = grp.count()
        rank = grp.filter(F.col("v") <= e).count() / n
        assert abs(rank - 0.5) <= 3 / (64**0.5), (k, e, exact[k], rank)


def test_quantile_sample_requires_key():
    from aws_iceberg_automation_spark.matview import Measure

    with pytest.raises(ValueError, match="needs a key"):
        Measure("qs", "quantile_sample", F.lit(1))
