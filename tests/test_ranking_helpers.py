"""Differential tests for functions/ranking: the distributed,
WindowExec-free decompositions must reproduce their single-partition
window oracles EXACTLY — ranks, tiles, prefix sums, and top-n — on
adversarial value distributions (ties, skew, negatives, constants)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from aws_iceberg_automation_spark.functions.ranking import (
    global_ntile,
    global_row_number,
    partitioned_prefix_sums,
    topn_ranked,
)


@pytest.fixture(scope="module")
def skewed(spark):
    """600 rows: heavy ties (v in 0..9 for most), a skew spike, and
    negatives — the distributions that break naive bucketing."""
    return (
        spark.range(600)
        .select(
            F.col("id"),
            F.when(F.col("id") < 500, (F.col("id") % 10).cast("double"))
            .when(F.col("id") < 580, F.lit(7.0))  # spike on one value
            .otherwise(-(F.col("id").cast("double")))  # negative tail
            .alias("v"),
        )
    )


def test_global_row_number_matches_window(skewed):
    got = global_row_number(skewed, F.col("v"), [F.col("id")], n_buckets=8)
    w = Window.orderBy("v", "id")
    want = skewed.withColumn("rk", F.row_number().over(w).cast("bigint"))
    assert sorted(map(tuple, got.select("id", "v", "rk").collect())) == sorted(
        map(tuple, want.select("id", "v", "rk").collect())
    )


@pytest.mark.parametrize("k", [3, 10, 20])
def test_global_ntile_matches_window(skewed, k):
    got = global_ntile(skewed, F.col("v"), [F.col("id")], k, n_buckets=8)
    w = Window.orderBy("v", "id")
    want = skewed.withColumn("bucket", F.ntile(k).over(w))
    assert sorted(map(tuple, got.select("id", "bucket").collect())) == sorted(
        map(tuple, want.select("id", "bucket").collect())
    )


def test_global_ntile_fewer_rows_than_tiles(spark):
    small = spark.range(4).select("id", F.col("id").cast("double").alias("v"))
    got = global_ntile(small, F.col("v"), [F.col("id")], 10, n_buckets=4)
    w = Window.orderBy("v", "id")
    want = small.withColumn("bucket", F.ntile(10).over(w))
    assert sorted(map(tuple, got.select("id", "bucket").collect())) == sorted(
        map(tuple, want.select("id", "bucket").collect())
    )


def test_partitioned_prefix_sums_matches_window(spark):
    # unique values per row (the helper's precondition — 199 rows with
    # a multiplier coprime to 199, so id*37 % 199 is a bijection), two
    # sum columns
    df = spark.range(199).select(
        (F.col("id") * 37 % 199).cast("double").alias("val"),
        (F.col("id") % 5).alias("a"),
        (F.col("id") % 3).alias("b"),
    )
    got = partitioned_prefix_sums(df, F.col("val"), ["a", "b"], n_buckets=8)
    w = Window.orderBy("val").rowsBetween(Window.unboundedPreceding, 0)
    want = df.select(
        "val",
        F.sum("a").over(w).alias("cum_a"),
        F.sum("b").over(w).alias("cum_b"),
    )
    assert sorted(
        map(tuple, got.select("val", "cum_a", "cum_b").collect())
    ) == sorted(map(tuple, want.select("val", "cum_a", "cum_b").collect()))


def test_topn_ranked_matches_window(skewed):
    got = topn_ranked(skewed, [F.col("v").desc(), F.col("id")], 25)
    w = Window.orderBy(F.col("v").desc(), "id")
    want = (
        skewed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 25)
    )
    assert sorted(map(tuple, got.select("id", "v", "rk").collect())) == sorted(
        map(tuple, want.select("id", "v", "rk").collect())
    )


def test_no_single_partition_window_in_plans(skewed):
    # topn_ranked is fully windowless
    top = topn_ranked(skewed, [F.col("v").desc(), F.col("id")], 25)
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    # the rank/tile/prefix decompositions use windows, but every one is
    # PARTITIONED (by _bucket) — a windowspecdefinition with an empty
    # partition list would print no partition columns before the sort spec
    for frame in (
        global_row_number(skewed, F.col("v"), [F.col("id")], n_buckets=8),
        global_ntile(skewed, F.col("v"), [F.col("id")], 10, n_buckets=8),
        partitioned_prefix_sums(
            skewed.select(
                F.col("id").cast("double").alias("val"), F.lit(1).alias("c")
            ),
            F.col("val"),
            ["c"],
            n_buckets=8,
        ),
    ):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        for line in plan.splitlines():
            if "windowspecdefinition" in line:
                assert "windowspecdefinition(_bucket" in line, line


def test_grouped_row_number_matches_window(skewed):
    """grouped_row_number must equal row_number() PARTITION BY group on
    the same adversarial distribution, split into 3 uneven groups."""
    from aws_iceberg_automation_spark.functions.ranking import (
        grouped_row_number,
    )

    g = skewed.withColumn(
        "grp",
        F.when(F.col("id") % 7 == 0, "a")
        .when(F.col("id") % 3 == 0, "b")
        .otherwise("c"),
    )
    got = grouped_row_number(
        g, ["grp"], F.col("v"), [F.col("id")], n_buckets=8
    )
    w = Window.partitionBy("grp").orderBy("v", "id")
    want = g.withColumn("rk", F.row_number().over(w).cast("bigint"))
    assert sorted(
        map(tuple, got.select("grp", "id", "v", "rk").collect())
    ) == sorted(map(tuple, want.select("grp", "id", "v", "rk").collect()))


def test_grouped_row_number_single_row_groups(spark):
    """Degenerate groups (one row each) all rank 1."""
    from aws_iceberg_automation_spark.functions.ranking import (
        grouped_row_number,
    )

    df = spark.createDataFrame(
        [("a", 5.0, 1), ("b", -2.0, 2), ("c", 0.0, 3)], "grp string, v double, id int"
    )
    got = grouped_row_number(df, ["grp"], F.col("v"), [F.col("id")])
    assert {(r.grp, r.rk) for r in got.collect()} == {
        ("a", 1), ("b", 1), ("c", 1)
    }


def test_grouped_row_number_null_group_kept(spark):
    """A NULL group key is a real group (PARTITION BY semantics): its
    rows must rank 1..n, not silently vanish (review finding r4)."""
    from aws_iceberg_automation_spark.functions.ranking import (
        grouped_row_number,
    )

    df = spark.createDataFrame(
        [(None, 1.0, 1), (None, 2.0, 2), ("a", 3.0, 3)],
        "grp string, v double, id int",
    )
    got = {(r.grp, r.id): r.rk for r in grouped_row_number(
        df, ["grp"], F.col("v"), [F.col("id")]).collect()}
    assert got == {(None, 1): 1, (None, 2): 2, ("a", 3): 1}


# ---------------------------------------------------------------- r11:
# single-pass exact-histogram bucketization (ranking._cells_hist_*).


def _int_cells(spark, vals):
    from aws_iceberg_automation_spark.functions.ranking import _int_cell_sql

    df = spark.createDataFrame([(v,) for v in vals], "v bigint")
    return df.select("v", F.expr(_int_cell_sql("v")).alias("c")).collect()


def _dbl_cells(spark, vals):
    from aws_iceberg_automation_spark.functions.ranking import (
        _dbl_bits_sql,
        _dbl_cell_sql,
    )

    df = spark.createDataFrame([(v,) for v in vals], "v double")
    return (
        df.select("v", F.expr(_dbl_bits_sql("v")).alias("b"))
        .select("v", F.expr(_dbl_cell_sql("v", "b")).alias("c"))
        .collect()
    )


def test_int_cell_monotone_and_invertible(spark):
    """The integer cell map must be exactly monotone (v1 <= v2 ⇒
    cell(v1) <= cell(v2)) over adversarial int64s, and the Python
    inverse must return the true minimum of each cell — the property
    the value-space bucket thresholds rely on."""
    import random

    from aws_iceberg_automation_spark.functions.ranking import _int_cell_min

    rng = random.Random(11)
    vals = [
        -(2**63), -(2**63) + 1, -(2**62), -1025, -1024, -1023, -2, -1,
        0, 1, 2, 9, 10, 1023, 1024, 1025, 2**52, 2**53, 2**62,
        2**63 - 2, 2**63 - 1,
    ]
    vals += [rng.randint(-(2**63), 2**63 - 1) for _ in range(400)]
    vals += [rng.randint(-3000, 3000) for _ in range(400)]
    rows = sorted(_int_cells(spark, sorted(set(vals))), key=lambda r: r.v)
    for a, b in zip(rows, rows[1:]):
        assert a.c <= b.c, f"cell order broke: {a} vs {b}"
    # inverse: min value observed per cell must be >= _int_cell_min,
    # and the threshold must itself land in (no earlier than) its cell
    per_cell: dict[int, int] = {}
    for r in rows:
        per_cell[r.c] = min(per_cell.get(r.c, r.v), r.v)
    thresholds = [_int_cell_min(c) for c in per_cell]
    trows = {r.v: r.c for r in _int_cells(spark, sorted(set(thresholds)))}
    for c, vmin in per_cell.items():
        t = _int_cell_min(c)
        assert t <= vmin, f"threshold {t} above cell {c} min {vmin}"
        assert trows[t] == c, f"cell(_int_cell_min({c})) = {trows[t]}"


def test_dbl_cell_monotone_and_invertible(spark):
    """Same exactness contract for the IEEE-bits double cell map,
    including ±0.0, denormals, infinities and NaN (forced above every
    real cell, as Spark orders NaN above +inf)."""
    import math
    import random
    import struct

    from aws_iceberg_automation_spark.functions.ranking import (
        _NAN_CELL,
        _dbl_cell_min,
    )

    rng = random.Random(12)
    vals = [
        float("-inf"), -1.8e308, -1.5, -1e-310, -0.0, 0.0, 5e-324,
        1e-310, 1.0, 1.0000000000000002, 1.5, math.pi, 1e300, 1.8e308,
        float("inf"),
    ]
    for _ in range(400):
        bits = rng.getrandbits(64)
        v = struct.unpack("<d", struct.pack("<Q", bits))[0]
        if not math.isnan(v):
            vals.append(v)
    vals += [rng.uniform(-10, 10) for _ in range(300)]
    vals = sorted(set(vals))
    rows = sorted(_dbl_cells(spark, vals), key=lambda r: r.v)
    for a, b in zip(rows, rows[1:]):
        assert a.c <= b.c, f"cell order broke: {a} vs {b}"
    assert rows[0].v == float("-inf") and rows[-1].v == float("inf")
    # -0.0 and 0.0 share a cell
    zero_cells = {r.c for r in rows if r.v == 0.0}
    assert len(zero_cells) == 1
    # NaN is forced to the above-everything marker
    nan_rows = _dbl_cells(spark, [float("nan")])
    assert nan_rows[0].c == _NAN_CELL
    # inverse: threshold at or below every member, same cell
    per_cell: dict[int, float] = {}
    for r in rows:
        per_cell[r.c] = min(per_cell.get(r.c, r.v), r.v)
    ts = sorted({_dbl_cell_min(c) for c in per_cell})
    trows = {r.v: r.c for r in _dbl_cells(spark, ts)}
    for c, vmin in per_cell.items():
        t = _dbl_cell_min(c)
        assert t <= vmin
        assert trows[t] == c


def _typed(v, dt: str):
    """An integer-valued Column as ``dt``; a date is that many days from
    2000-01-01, so the integer order carries over."""
    if dt == "date":
        return F.date_add(F.to_date(F.lit("2000-01-01")), v.cast("int"))
    return v.cast(dt)


@pytest.mark.parametrize("dt", ["bigint", "int", "double", "float", "date"])
def test_decompositions_match_window_oracles(spark, dt):
    """All five decompositions equal their single-partition window
    oracles on adversarial ties, a spike and a negative tail, for every
    value type the histogram cells: integers, floating point and dates
    (through unix_date)."""
    from aws_iceberg_automation_spark.functions.ranking import (
        global_ntiles,
        grouped_row_number,
    )

    base = spark.range(700).select(
        F.col("id"),
        _typed(
            F.when(F.col("id") < 500, F.col("id") % 7)
            .when(F.col("id") < 600, F.lit(3))
            .otherwise(-F.col("id")),
            dt,
        ).alias("v"),
        (F.col("id") % 13).cast("bigint").alias("m"),
    )
    grouped = base.withColumn("g", F.col("m") % 3)
    w = Window.orderBy("v", "id")
    wm = Window.orderBy("m", "id")
    cases = [
        (
            global_row_number(base, F.col("v"), [F.col("id")], n_buckets=8),
            base.withColumn("rk", F.row_number().over(w).cast("bigint")),
        ),
        (
            global_ntile(base, F.col("v"), [F.col("id")], 5, n_buckets=8),
            base.withColumn("bucket", F.ntile(5).over(w)),
        ),
        (
            global_ntiles(
                base,
                [(F.col("v"), "t_v"), (F.col("m"), "t_m")],
                [F.col("id")],
                4,
                n_buckets=8,
            ),
            base.withColumn("t_v", F.ntile(4).over(w)).withColumn(
                "t_m", F.ntile(4).over(wm)
            ),
        ),
        (
            partitioned_prefix_sums(
                base, F.col("v"), ["m"], n_buckets=8, tiebreaks=[F.col("id")]
            ),
            base.withColumn(
                "cum_m",
                F.sum("m")
                .over(w.rowsBetween(Window.unboundedPreceding, 0))
                .cast("bigint"),
            ),
        ),
        (
            grouped_row_number(
                grouped, ["g"], F.col("v"), [F.col("id")], n_buckets=8
            ),
            grouped.withColumn(
                "rk",
                F.row_number()
                .over(Window.partitionBy("g").orderBy("v", "id"))
                .cast("bigint"),
            ),
        ),
    ]
    for got, want in cases:
        cols = want.columns
        assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
            map(tuple, want.collect())
        )


def _sql_executions(spark, build) -> int:
    """SQL executions that ``build()`` starts: the difference of the
    newest execution id in the SQL status store (listed in id order)
    once the listener bus has drained. Not the store's size: it keeps
    only the newest spark.sql.ui.retainedExecutions, so in a long
    session its size stops growing. Not Spark jobs either: one collect
    runs two jobs under AQE."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def newest_id() -> int:
        bus.waitUntilEmpty()
        execs = store.executionsList()
        return execs.last().executionId() if execs.nonEmpty() else -1

    before = newest_id()
    build()
    return newest_id() - before


def test_single_pass_runs_one_eager_job(spark):
    """Building any of the five decompositions runs exactly ONE SQL
    execution before the main query: the histogram collect. A date
    value takes the same integer-cell path."""
    from aws_iceberg_automation_spark.functions.ranking import (
        global_ntiles,
        grouped_row_number,
    )

    got, want = {}, {}
    for dt in ("bigint", "date"):
        base = spark.range(1000).select(
            F.col("id"),
            _typed(F.col("id") % 97, dt).alias("v"),
            (F.col("id") % 5).alias("m"),
        )
        v, tb = F.col("v"), [F.col("id")]
        builds = {
            "global_row_number": lambda: global_row_number(base, v, tb),
            "global_ntile": lambda: global_ntile(base, v, tb, 4),
            "global_ntiles": lambda: global_ntiles(
                base, [(v, "t_v"), (F.col("m"), "t_m")], tb, 4
            ),
            "partitioned_prefix_sums": lambda: partitioned_prefix_sums(
                base, v, ["m"], tiebreaks=tb
            ),
            "grouped_row_number": lambda: grouped_row_number(
                base, ["m"], v, tb
            ),
        }
        for name, build in builds.items():
            got[dt, name] = _sql_executions(spark, build)
            want[dt, name] = 1
    assert got == want


def test_unsupported_value_type_fails_before_any_job(spark):
    """A value type outside the histogram's cells (here DECIMAL) raises
    TypeError while the plan is built, having run nothing."""
    base = spark.range(100).select(
        F.col("id"), F.col("id").cast("decimal(10,2)").alias("v")
    )

    def build():
        with pytest.raises(TypeError, match="decimal"):
            global_row_number(base, F.col("v"), [F.col("id")])

    assert _sql_executions(spark, build) == 0


@pytest.mark.parametrize("dt", ["bigint", "double", "date"])
def test_single_pass_nullable_rank_column(spark, dt):
    """A nullable rank column takes the single-pass histogram path for
    every kind: NULL lands in bucket 0 (first, as in an ascending
    window) instead of aborting the histogram job."""
    base = spark.range(300).select(
        F.col("id"),
        _typed(
            F.when(F.col("id") % 9 == 0, F.lit(None)).otherwise(
                (F.col("id") % 17) - 5
            ),
            dt,
        ).alias("v"),
    )
    rn = global_row_number(base, F.col("v"), [F.col("id")], n_buckets=8)
    nt = global_ntile(base, F.col("v"), [F.col("id")], 5, n_buckets=8)
    w = Window.orderBy("v", "id")
    want_rn = base.withColumn("rk", F.row_number().over(w).cast("bigint"))
    want_nt = base.withColumn("bucket", F.ntile(5).over(w))
    assert sorted(map(tuple, rn.select("id", "v", "rk").collect())) == sorted(
        map(tuple, want_rn.select("id", "v", "rk").collect())
    )
    assert sorted(map(tuple, nt.select("id", "bucket").collect())) == sorted(
        map(tuple, want_nt.select("id", "bucket").collect())
    )


def test_nan_ranks_last_as_in_spark_window(spark):
    """Spark orders NaN above +inf. The histogram must count NaN in the
    same (last) bucket the main plan's CASE-sum puts it in, or the
    offsets of every bucket after it are off by the NaN count."""
    base = spark.range(200).select(
        F.col("id"),
        F.when(F.col("id") % 7 == 0, F.lit(float("nan")))
        .when(F.col("id") % 11 == 0, F.lit(None))
        .when(F.col("id") % 13 == 0, F.lit(float("inf")))
        .otherwise((F.col("id") % 23).cast("double"))
        .alias("v"),
    )
    rn = global_row_number(base, F.col("v"), [F.col("id")], n_buckets=8)
    nt = global_ntile(base, F.col("v"), [F.col("id")], 6, n_buckets=8)
    w = Window.orderBy("v", "id")
    want_rn = base.withColumn("rk", F.row_number().over(w).cast("bigint"))
    want_nt = base.withColumn("bucket", F.ntile(6).over(w))
    assert sorted(rn.select("id", "rk").collect()) == sorted(
        want_rn.select("id", "rk").collect()
    )
    assert sorted(nt.select("id", "bucket").collect()) == sorted(
        want_nt.select("id", "bucket").collect()
    )
