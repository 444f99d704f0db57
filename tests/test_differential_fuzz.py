"""Differential fuzzing: random small tables + a random
filter/group/aggregate plan run through Spark AND DuckDB, compared
exactly (same canonicalization as the driver gate). Catches semantic
drift (null handling, type coercion, aggregate edge cases) that
hand-written per-operator oracles can miss.

Kept deliberately within the engine's determinism contract: doubles are
money-like (2-decimal) and aggregated through DECIMAL casts; the fuzz
space is predicates × group keys × aggregate sets.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

import math
from datetime import date, datetime
from decimal import Decimal


def _canon_cell(v):
    """Value-canon for same-SQL-both-engines fuzzing: here BOTH sides
    come from raw row fetches (Spark collect / DuckDB fetchall), so
    decimals are Decimal objects on both and numeric coercion is safe.
    (The driver-contract mirror in scripts/verify_contract.py is
    intentionally stricter — do not reuse this there.)"""
    if v is None:
        return ("0n", "")
    if isinstance(v, bool):
        return ("b", str(v))
    if isinstance(v, float):
        return ("f", "NaN" if math.isnan(v) else repr(v))
    if isinstance(v, Decimal):
        return ("f", repr(float(v)))
    if isinstance(v, int):
        return ("i", str(v).rjust(24))
    if isinstance(v, datetime):
        return ("t", v.replace(tzinfo=None).isoformat())
    if isinstance(v, date):
        return ("t", v.isoformat())
    return ("s", str(v))


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon_cell(r[i]) for i in order) for r in rows]
    out.sort()
    return out

_money = st.integers(-99999, 99999).map(lambda c: c / 100.0)


@st.composite
def tables(draw):
    n = draw(st.integers(1, 40))
    ks = draw(st.lists(st.integers(0, 5) | st.none(), min_size=n, max_size=n))
    vs = draw(st.lists(_money | st.none(), min_size=n, max_size=n))
    tags = draw(
        st.lists(st.sampled_from(["a", "b", "c"]) | st.none(), min_size=n, max_size=n)
    )
    return pd.DataFrame(
        {
            "k": pd.array(ks, dtype="Int64"),
            "v": pd.array(vs, dtype="float64"),
            "tag": pd.array(tags, dtype=object),
        }
    )


_PREDICATES = [
    "v > 100.0",
    "v IS NULL",
    "v IS NOT NULL AND k IS NOT NULL",
    "k IN (1, 3, 5)",
    "tag = 'a' OR v < -50.0",
    "coalesce(k, 0) % 2 = 0",
    "tag IS NULL",
    "NOT (tag = 'b')",
    "v BETWEEN -100.0 AND 250.0",
]


@pytest.fixture(scope="module")
def duck_fuzz():
    import duckdb

    return duckdb.connect()


_WINDOW_EXPRS = [
    "row_number() OVER (PARTITION BY tag ORDER BY v DESC NULLS LAST, k NULLS FIRST)",
    "rank() OVER (PARTITION BY tag ORDER BY v NULLS FIRST)",
    "CAST(SUM(CAST(v AS DECIMAL(10,2))) OVER (PARTITION BY tag ORDER BY k NULLS FIRST, v NULLS FIRST "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,2))",
    "lag(k) OVER (PARTITION BY tag ORDER BY k NULLS FIRST, v NULLS FIRST)",
    "count(v) OVER (PARTITION BY k)",
]


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(pdf=tables(), wexpr=st.sampled_from(_WINDOW_EXPRS))
def test_window_agrees(spark, duck_fuzz, pdf, wexpr):
    """Window fuzz: NULL ordering + frames are where engines classically
    diverge. Deterministic orderings only (unique-ish tiebreaks); rank
    ties are identical-by-construction across engines."""
    # row_number over ties is nondeterministic — make rows unique
    pdf = pdf.drop_duplicates().reset_index(drop=True)
    sql = f"SELECT k, v, tag, {wexpr} AS w FROM t"
    spark.createDataFrame(
        pdf.astype(object).where(pdf.notna(), None),
        schema="k long, v double, tag string",
    ).createOrReplaceTempView("t")
    sres = spark.sql(sql)
    scols, srows = sres.columns, [tuple(r) for r in sres.collect()]
    duck_fuzz.register("t", pdf)
    rel = duck_fuzz.sql(sql)
    ocols, orows = [d[0] for d in rel.description], rel.fetchall()
    duck_fuzz.unregister("t")
    assert canon_rows(scols, srows) == canon_rows(ocols, orows), (
        f"window divergence for {wexpr!r}"
    )


_JOIN_KINDS = ["JOIN", "LEFT JOIN", "FULL OUTER JOIN"]


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(a=tables(), b=tables(), kind=st.sampled_from(_JOIN_KINDS))
def test_join_agrees(spark, duck_fuzz, a, b, kind):
    """Join fuzz: null keys never match, outer sides null-extend — the
    classic places engines disagree."""
    sql = f"""
SELECT a.k AS ak, b.k AS bk, a.tag AS atag, b.tag AS btag, a.v AS av, b.v AS bv
FROM ta a {kind} tb b ON a.k = b.k AND a.tag = b.tag
"""
    for name, pdf in (("ta", a), ("tb", b)):
        spark.createDataFrame(
            pdf.astype(object).where(pdf.notna(), None),
            schema="k long, v double, tag string",
        ).createOrReplaceTempView(name)
        duck_fuzz.register(name, pdf)
    sres = spark.sql(sql)
    scols, srows = sres.columns, [tuple(r) for r in sres.collect()]
    rel = duck_fuzz.sql(sql)
    ocols, orows = [d[0] for d in rel.description], rel.fetchall()
    duck_fuzz.unregister("ta")
    duck_fuzz.unregister("tb")
    assert len(srows) == len(orows)
    assert canon_rows(scols, srows) == canon_rows(ocols, orows), (
        f"join divergence ({kind})"
    )


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(pdf=tables(), pred=st.sampled_from(_PREDICATES))
def test_filter_group_agg_agrees(spark, duck_fuzz, pdf, pred):
    sql = f"""
SELECT k,
  COUNT(*) AS n,
  CAST(COUNT(v) AS BIGINT) AS n_v,
  CAST(SUM(CAST(v AS DECIMAL(10,2))) AS DECIMAL(38,2)) AS sum_v,
  CAST(CAST(SUM(CAST(v AS DECIMAL(10,2))) AS DECIMAL(38,2)) AS VARCHAR(48)) AS sum_v_str,
  min(tag) AS min_tag,
  max(v) AS max_v
FROM t
WHERE {pred}
GROUP BY k
"""
    sdf = spark.createDataFrame(pdf.astype(object).where(pdf.notna(), None),
                                schema="k long, v double, tag string")
    sdf.createOrReplaceTempView("t")
    sres = spark.sql(sql)
    scols, srows = sres.columns, [tuple(r) for r in sres.collect()]

    duck_fuzz.register("t", pdf)
    rel = duck_fuzz.sql(sql)
    ocols = [d[0] for d in rel.description]
    orows = rel.fetchall()
    duck_fuzz.unregister("t")

    assert sorted(scols) == sorted(ocols)
    assert canon_rows(scols, srows) == canon_rows(ocols, orows), (
        f"divergence for predicate {pred!r} on\n{pdf}"
    )


@st.composite
def str_tables(draw):
    n = draw(st.integers(1, 30))
    text = st.text(
        alphabet="abcxyzABCXYZ019 _-.,!*%",
        min_size=0,
        max_size=12,
    )
    ss = draw(st.lists(text | st.none(), min_size=n, max_size=n))
    t2 = draw(st.lists(text | st.none(), min_size=n, max_size=n))
    return pd.DataFrame(
        {"s": pd.array(ss, dtype=object), "t2": pd.array(t2, dtype=object)}
    )


# Same-SQL-both-engines string surface. Divergences this fuzz found,
# excluded/guarded with the workaround any oracle must use:
# - concat(...): DuckDB skips NULL args, Spark null-propagates — use
#   `||`, which null-propagates in both;
# - split_part(NULL, d, n): Spark → NULL, DuckDB → '' — guard the
#   input with coalesce on both sides before split_part.
_STRING_EXPRS = [
    "upper(s)",
    "lower(s)",
    "trim(s)",
    "ltrim(s)",
    "rtrim(s)",
    "length(s)",
    "reverse(s)",
    "replace(s, 'a', 'XY')",
    "substring(s, 2, 3)",
    "left(s, 4)",
    "right(s, 2)",
    "lpad(s, 8, '*')",
    "rpad(s, 8, '*')",
    "s || '_' || t2",
    "split_part(coalesce(s, ''), ' ', 1)",
    "position('a' IN s)",
    "repeat(s, 2)",
    "md5(coalesce(s, ''))",
]


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(pdf=str_tables(), expr=st.sampled_from(_STRING_EXPRS))
def test_string_funcs_agree(spark, duck_fuzz, pdf, expr):
    """String-function fuzz: case/trim/pad/slice/split/search over
    random short strings incl. NULLs and empties — the surface where
    engines disagree on NULL propagation, 1-based indexing, and
    out-of-range slices."""
    sql = f"SELECT s, t2, {expr} AS r FROM t"
    spark.createDataFrame(
        pdf.astype(object).where(pdf.notna(), None), schema="s string, t2 string"
    ).createOrReplaceTempView("t")
    sres = spark.sql(sql)
    scols, srows = sres.columns, [tuple(r) for r in sres.collect()]
    duck_fuzz.register("t", pdf)
    rel = duck_fuzz.sql(sql)
    ocols, orows = [d[0] for d in rel.description], rel.fetchall()
    duck_fuzz.unregister("t")
    assert canon_rows(scols, srows) == canon_rows(ocols, orows), (
        f"string divergence for {expr!r}"
    )


@st.composite
def ts_tables(draw):
    base = datetime(2024, 1, 1)
    span = st.integers(0, 400 * 24 * 3600)
    micros = st.integers(0, 999_999)
    mk = st.builds(
        lambda s, us: pd.Timestamp(base) + pd.Timedelta(seconds=s, microseconds=us),
        span,
        micros,
    )
    n = draw(st.integers(1, 30))
    a = draw(st.lists(mk | st.none(), min_size=n, max_size=n))
    b = draw(st.lists(mk | st.none(), min_size=n, max_size=n))
    # real datetime64 dtype (NaT for NULL) so DuckDB binds TIMESTAMP
    # even for all-NULL columns
    return pd.DataFrame(
        {
            "ts": pd.Series(a, dtype="datetime64[us]"),
            "t2": pd.Series(b, dtype="datetime64[us]"),
        }
    )


# Same-SQL-both-engines datetime surface. Known divergences kept OUT of
# the list (any oracle must avoid or guard them):
# - EXTRACT(DOW ...): DuckDB Sunday=0..6, Spark Sunday=1..7 — never use
#   raw DOW cross-engine; map through CASE or use date_format patterns
#   per-engine;
# - date - date: DuckDB → INTEGER days, Spark → INTERVAL — use
#   datediff-free formulations;
# - date_format/strftime: pattern languages differ entirely;
# - date_trunc at date grain ('day'/'month'/'week'): DuckDB returns
#   DATE, Spark returns TIMESTAMP — always CAST the trunc to DATE
#   explicitly on both sides (sub-day grains agree on TIMESTAMP).
_TS_EXPRS = [
    "CAST(ts AS DATE)",
    "CAST(date_trunc('day', ts) AS DATE)",
    "date_trunc('hour', ts)",
    "CAST(date_trunc('month', ts) AS DATE)",
    "CAST(date_trunc('week', ts) AS DATE)",
    "EXTRACT(YEAR FROM ts)",
    "EXTRACT(MONTH FROM ts)",
    "EXTRACT(DAY FROM ts)",
    "EXTRACT(HOUR FROM ts)",
    "EXTRACT(MINUTE FROM ts)",
    "ts + INTERVAL 5 DAY",
    "ts - INTERVAL 90 MINUTE",
    "greatest(ts, t2)",
    "least(ts, t2)",
    "last_day(CAST(ts AS DATE))",
    "ts < t2",
    "ts BETWEEN t2 - INTERVAL 7 DAY AND t2",
]


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(pdf=ts_tables(), expr=st.sampled_from(_TS_EXPRS))
def test_datetime_funcs_agree(spark, duck_fuzz, pdf, expr):
    """Datetime fuzz over microsecond-grain NTZ timestamps incl. NULLs:
    truncation boundaries, extract fields, interval arithmetic,
    comparisons — the surface where week starts, DOW numbering, and
    date-difference typing diverge between engines."""
    sql = f"SELECT ts, t2, {expr} AS r FROM t"
    spark.createDataFrame(
        pdf.astype(object).where(pdf.notna(), None),
        schema="ts timestamp_ntz, t2 timestamp_ntz",
    ).createOrReplaceTempView("t")
    sres = spark.sql(sql)
    scols, srows = sres.columns, [tuple(r) for r in sres.collect()]
    duck_fuzz.register("t", pdf)
    rel = duck_fuzz.sql(sql)
    ocols, orows = [d[0] for d in rel.description], rel.fetchall()
    duck_fuzz.unregister("t")
    assert canon_rows(scols, srows) == canon_rows(ocols, orows), (
        f"datetime divergence for {expr!r}"
    )


# --- span-dedup rewrite vs a brute-force Python reference ------------


def _ref_span_dedup(docs: dict[int, str], k: int = 8) -> dict[int, tuple]:
    """Brute-force reference for dedup.span_dedup_clean: independent
    implementation (dict/set scans, no Spark, no SQL) of the same
    semantics — every duplicated k-gram occurrence except the global
    min-(doc_id, start) owner marks its k positions for removal."""
    occs: dict[tuple, list[tuple[int, int]]] = {}
    words = {d: t.split(" ") for d, t in docs.items()}
    for d, w in sorted(words.items()):
        for i in range(len(w) - k + 1):
            occs.setdefault(tuple(w[i : i + k]), []).append((d, i))
    removed: dict[int, set[int]] = {d: set() for d in docs}
    for locs in occs.values():
        if len(locs) > 1:
            for d, i in sorted(locs)[1:]:
                removed[d].update(range(i, i + k))
    out = {}
    for d, w in words.items():
        kept = [t for j, t in enumerate(w) if j not in removed[d]]
        out[d] = (len(w), len(removed[d]), " ".join(kept))
    return out


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            # tiny vocabulary + short docs → dense k-gram collisions
            st.sampled_from(["a", "b", "c"]),
            min_size=1,
            max_size=14,
        ).map(" ".join),
        min_size=1,
        max_size=8,
    ),
    k=st.sampled_from([2, 3]),
)
def test_span_dedup_clean_matches_reference(spark, docs, k):
    from aws_iceberg_automation_spark.operators.dedup import span_dedup_clean

    table = {i: t for i, t in enumerate(docs)}
    df = spark.createDataFrame(
        list(table.items()), "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.n_removed, r.cleaned_text)
        for r in span_dedup_clean(df, k=k).collect()
    }
    assert got == _ref_span_dedup(table, k=k)


# --- streaming CEP DFA vs Python's regex engine ----------------------


@settings(max_examples=200, deadline=None)
@given(s=st.text(alphabet="vcpes", max_size=40), cut=st.integers(0, 40))
def test_sequence_dfa_kernel_matches_regex(s, cut):
    """The q180 DFA kernel must count exactly re's non-overlapping
    leftmost 'vc*p' matches for ANY event string, including when the
    stream is split into two microbatches at an arbitrary point."""
    import re

    import pandas as pd

    from aws_iceberg_automation_spark.streaming.jobs import _sequence_dfa

    class FakeState:
        exists = False

        def update(self, v):
            self.exists, self.get = True, v

    def pdf_of(chunk, offset):
        return pd.DataFrame(
            {
                "ts": range(offset, offset + len(chunk)),
                "event_id": range(offset, offset + len(chunk)),
                "event_type": list(chunk),
            }
        )

    def run(batches):
        """batches: list of microbatches, each a list of (chunk, offset)
        Arrow chunks delivered in ONE kernel call."""
        st_ = FakeState()
        out = None
        for batch in batches:
            pdfs = [pdf_of(c, o) for c, o in batch if c]
            if not pdfs:
                continue
            out = list(_sequence_dfa((1,), iter(pdfs), st_))[0]
        return out

    cut = min(cut, len(s))
    expected = len(re.findall("vc*p", s))
    whole = run([[(s, 0)]])
    # split across two MICROBATCHES (state carries over)
    split = run([[(s[:cut], 0)], [(s[cut:], cut)]])
    # split across two ARROW CHUNKS inside one call, delivered in
    # REVERSED order — the kernel must globally sort, not per-chunk
    chunked = run([[(s[cut:], cut), (s[:cut], 0)]])
    for res in (whole, split, chunked):
        if s:
            assert int(res["n_matches"].iloc[0]) == expected
            assert int(res["n_events"].iloc[0]) == len(s)


# --- ranking-decomposition fuzz (helpers vs window oracles) -----------

_rank_rows = st.lists(
    st.tuples(
        st.floats(
            min_value=-1e6,
            max_value=1e6,
            allow_nan=False,
            allow_infinity=False,
            width=32,
        ),
        st.integers(min_value=0, max_value=10_000),
    ),
    min_size=1,
    max_size=120,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_rank_rows, n_buckets=st.sampled_from([2, 5, 16]), k=st.sampled_from([3, 7, 10]))
def test_rank_and_ntile_decompositions_agree(spark, rows, n_buckets, k):
    """Random (value, id) tables — ties, duplicates, extremes — through
    the quantile-bucket rank/ntile decompositions vs the real window
    functions. Ids are deduped to keep (value, id) a total order (the
    helpers' documented precondition)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from aws_iceberg_automation_spark.functions.ranking import (
        global_ntile,
        global_row_number,
    )

    seen, uniq = set(), []
    for v, i in rows:
        if i not in seen:
            seen.add(i)
            uniq.append((float(v), i))
    df = spark.createDataFrame(uniq, "v double, id long")

    got_rn = {
        (r.id, r.rk)
        for r in global_row_number(
            df, F.col("v"), [F.col("id")], n_buckets=n_buckets
        ).collect()
    }
    w = Window.orderBy("v", "id")
    want_rn = {
        (r.id, r.rk)
        for r in df.withColumn(
            "rk", F.row_number().over(w).cast("bigint")
        ).collect()
    }
    assert got_rn == want_rn

    got_nt = {
        (r.id, r.bucket)
        for r in global_ntile(
            df, F.col("v"), [F.col("id")], k, n_buckets=n_buckets
        ).collect()
    }
    want_nt = {
        (r.id, r.bucket)
        for r in df.withColumn("bucket", F.ntile(k).over(w)).collect()
    }
    assert got_nt == want_nt


_multi_rows = st.lists(
    st.tuples(
        st.floats(
            min_value=-1e6,
            max_value=1e6,
            allow_nan=False,
            allow_infinity=False,
            width=32,
        ),
        st.floats(
            min_value=-1e6,
            max_value=1e6,
            allow_nan=False,
            allow_infinity=False,
            width=32,
        ),
        st.integers(min_value=0, max_value=10_000),
    ),
    min_size=1,
    max_size=100,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=_multi_rows,
    n_buckets=st.sampled_from([2, 5, 16]),
    k=st.sampled_from([3, 5, 8]),
)
def test_multi_ntile_matches_window_per_dimension(spark, rows, n_buckets, k):
    """global_ntiles (the one-boundary-job multi-dimension form q208
    uses) vs the real ntile window, per dimension, on random tables
    with ties/duplicates/extremes — the two value columns are
    correlated only by chance, exactly the RFM situation."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from aws_iceberg_automation_spark.functions.ranking import global_ntiles

    seen, uniq = set(), []
    for a, b, i in rows:
        if i not in seen:
            seen.add(i)
            uniq.append((float(a), float(b), i))
    df = spark.createDataFrame(uniq, "a double, b double, id long")

    got = {
        (r.id, r.t_a, r.t_b)
        for r in global_ntiles(
            df,
            [(F.col("a"), "t_a"), (F.col("b"), "t_b")],
            [F.col("id")],
            k,
            n_buckets=n_buckets,
        ).collect()
    }
    want = {
        (r.id, r.t_a, r.t_b)
        for r in df.withColumn(
            "t_a", F.ntile(k).over(Window.orderBy("a", "id"))
        )
        .withColumn("t_b", F.ntile(k).over(Window.orderBy("b", "id")))
        .collect()
    }
    assert got == want


def test_negative_zero_boundaries_do_not_poison_bucket_chains(spark):
    """Pinned regression for the Spark 4.1.2 whole-stage-codegen
    subexpression bug the multi-ntile fuzz found: when one dimension's
    quantile boundaries contain Literal(-0.0) and ANOTHER dimension's
    bucket when-chain shares the projection, every term of the -0.0
    chain evaluates 0 under codegen (correct interpreted / single-dim),
    so rows bucket differently across plan paths and the offsets join
    drops them all — global_ntiles returned the EMPTY SET on this
    two-row input before quantile_bucket_ranks normalized float
    boundaries to +0.0."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from aws_iceberg_automation_spark.functions.ranking import global_ntiles

    df = spark.createDataFrame(
        [(0.0, 0.0, 0), (0.0, -0.0, 1)], "a double, b double, id long"
    )
    got = {
        (r.id, r.t_a, r.t_b)
        for r in global_ntiles(
            df,
            [(F.col("a"), "t_a"), (F.col("b"), "t_b")],
            [F.col("id")],
            3,
            n_buckets=5,
        ).collect()
    }
    want = {
        (r.id, r.t_a, r.t_b)
        for r in df.withColumn(
            "t_a", F.ntile(3).over(Window.orderBy("a", "id"))
        )
        .withColumn("t_b", F.ntile(3).over(Window.orderBy("b", "id")))
        .collect()
    }
    assert got == want and got, got


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=_rank_rows, n_buckets=st.sampled_from([2, 5, 16]))
def test_prefix_sums_with_tiebreaks_match_window(spark, rows, n_buckets):
    """partitioned_prefix_sums with a NON-unique value + tiebreak (the
    q209 shape after the round-5 rewrite dropped its rank stage) vs
    the real cumulative window over (value, id) — duplicate values
    MUST accumulate in tiebreak order, and ties must never straddle
    bucket boundaries."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from aws_iceberg_automation_spark.functions.ranking import (
        partitioned_prefix_sums,
    )

    seen, uniq = set(), []
    for v, i in rows:
        if i not in seen:
            seen.add(i)
            uniq.append((float(v), i, i % 7 + 1))
    df = spark.createDataFrame(uniq, "v double, id long, x long")

    got = {
        (r.id, r.cum_x)
        for r in partitioned_prefix_sums(
            df,
            F.col("v"),
            ["x"],
            n_buckets=n_buckets,
            tiebreaks=[F.col("id")],
        ).collect()
    }
    w = (
        Window.orderBy("v", "id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = {
        (r.id, r.cum_x)
        for r in df.withColumn("cum_x", F.sum("x").over(w)).collect()
    }
    assert got == want


@pytest.mark.parametrize(
    "salt,n_chunks",
    [("fuzz-a", 3), ("fuzz-b", 7), ("fuzz-c", 5)],
)
def test_session_rollup_invariant_under_reordered_delivery(
    spark, tmp_path, salt, n_chunks
):
    """Watermark-reorder differential (VERDICT r07 ask #5, the q180
    fuzz pattern applied to sessionization): replay the events fixture
    through the q290 lakehouse session loop under ADVERSARIAL
    microbatch splits — rows hash-scattered across microbatches, so
    in-progress sessions arrive as disordered fragments — and the
    final session state must equal the calm one-shot batch
    sessionization row for row. Three salts × three chunk shapes
    exercise different interleavings of the interval-merge paths
    (extend-left, extend-right, bridge-two, brand-new)."""
    import os

    from pyspark.sql import functions as F

    from aws_iceberg_automation_spark.functions.compat import ts_sec
    from aws_iceberg_automation_spark.matview import IncrementalSessionView
    from aws_iceberg_automation_spark.operators.events import q75_session_window
    from aws_iceberg_automation_spark.streaming import jobs
    from aws_iceberg_automation_spark.versioning import VersionedTable
    from tests.conftest import SF_DIR

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    d = str(tmp_path / salt)
    replay = jobs.prepare_scrambled_replay_dir(
        spark, SF_DIR, os.path.join(d, "replay"), n_chunks=n_chunks, salt=salt
    )
    vt = VersionedTable(spark, os.path.join(d, "events_table"))
    sv = IncrementalSessionView(
        spark,
        vt,
        os.path.join(d, "sessions"),
        key="user_id",
        ts_col="tsec",
        value_col="value",
        gap_minutes=30,
    )
    s = (
        jobs.with_watermark(
            jobs.read_events_stream(spark, replay), "1080 hours"
        )
        .withColumn("tsec", ts_sec("ts"))
        .select("user_id", "tsec", "value")
    )
    jobs.foreach_batch_append_with_rollup(s, vt, sv, os.path.join(d, "ckpt"))
    assert sv.staleness() == 0

    got = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events, str(r.total_value))
        for r in sv.read()
        .select(
            "user_id",
            F.col("session_start").cast("timestamp_ntz").alias("session_start"),
            F.col("session_end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
            F.col("total_value").cast("string").alias("total_value"),
        )
        .collect()
    )
    want = sorted(
        (r.user_id, r.session_start, r.session_end, r.n_events, str(r.total_value))
        for r in q75_session_window(spark, SF_DIR).collect()
    )
    assert got == want


@pytest.mark.parametrize("late_days,delay_h", [(10, 2), (6, 3)])
def test_watermark_drop_set_is_exact(spark, tmp_path, late_days, delay_h):
    """Beyond-watermark DROP-SET differential (VERDICT r08 ask #7 —
    q333 proved the permitted-lateness regime; this pins the DROP
    regime at row grain, not counts): a hand-built 4-chunk replay
    delivers (0) the bulk, (1) a small in-range batch whose only job
    is to LOCK IN the watermark for the next batch (Spark filters late
    events with the PREVIOUS batch's watermark — the one-microbatch
    propagation lag, measured in this container and encoded here), then
    (2) the late batch mixing rows that MUST be dropped (window end ≤
    that locked watermark) with rows that MUST survive (window still
    open), then (3) the held-back global-latest rows, which push the
    final watermark far enough to close and emit every window of
    interest. The streaming result must equal, window for window and
    event_id for event_id, the prediction computed from the watermark
    spec itself.

    collect_list(event_id) makes the comparison the EXACT ROW SET —
    a drop rule off by one window, one second, or one comparison
    polarity produces a different id list, not just a count drift.
    Region boundaries carry ≥31-minute margins so ≤-vs-< conventions
    cannot flip any row."""
    import os
    from datetime import timedelta

    from pyspark.sql import functions as F

    from aws_iceberg_automation_spark.functions.compat import ts_sec
    from aws_iceberg_automation_spark.io import load_table
    from aws_iceberg_automation_spark.streaming import jobs
    from tests.conftest import SF_DIR

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    delay = timedelta(hours=delay_h)
    ev = (
        load_table(spark, SF_DIR, "events")
        .select(
            "event_id", "user_id", "event_type", "value",
            ts_sec("ts").alias("ts"),
        )
    )
    rows = ev.collect()
    t2 = max(r.ts for r in rows)
    boundary2 = t2 - delay
    chunk3 = [r for r in rows if r.ts > boundary2]
    rest = [r for r in rows if r.ts <= boundary2]
    t0 = max(r.ts for r in rest)
    w1 = t0 - delay

    def mday(ts):
        return (ts.month - 1) * 31 + ts.day

    late_old = [r for r in rest if mday(r.ts) <= late_days]
    mid_lo, mid_hi = t0 - timedelta(minutes=89), t0 - timedelta(minutes=31)
    late_mid = [
        r for r in rest if mid_lo < r.ts <= mid_hi and mday(r.ts) > late_days
    ]
    late_ids = {r.event_id for r in late_old} | {r.event_id for r in late_mid}
    chunk2 = late_old + late_mid
    bulk = [r for r in rest if r.event_id not in late_ids]
    # chunk1: a handful of bulk rows NOT at the max — re-delivered
    # in-range data that burns one microbatch so the chunk-0 watermark
    # becomes the late-events filter for chunk 2
    bulk.sort(key=lambda r: (r.ts, r.event_id))
    chunk0, chunk1 = bulk[:-3], bulk[-3:-1] + bulk[-1:]
    assert late_old and late_mid and chunk3 and chunk1, "vacuous split"
    t01 = max(r.ts for r in chunk0 + chunk1)
    assert t01 == t0 and t0 - delay == w1

    def window_end(ts):
        base = ts.replace(minute=0, second=0, microsecond=0)
        return base + timedelta(hours=1)

    # the watermark spec, applied by hand
    for r in late_old:
        assert window_end(r.ts) <= w1  # must be dropped
    for r in late_mid:
        assert window_end(r.ts) > w1  # must survive

    kept = chunk0 + chunk1 + chunk3 + late_mid
    w_final = t2 - delay
    expected = {}
    for r in kept:
        we = window_end(r.ts)
        if we <= w_final:
            expected.setdefault(we, []).append(r.event_id)
    expected = {k: sorted(v) for k, v in expected.items()}
    # Non-vacuousness: if Spark wrongly ACCEPTED the late_old rows,
    # their windows (all closed well before the final watermark) would
    # materialize in the streaming output — as extra ids in an emitted
    # window, or as whole windows `expected` does not contain. Either
    # way got != expected. The guard pins that the wrong outcome would
    # be visible: every dropped window closes before the final
    # watermark.
    dropped_windows = {window_end(r.ts) for r in late_old}
    assert all(w <= w_final for w in dropped_windows)

    d = str(tmp_path / "replay")
    schema = (
        "event_id long, user_id long, event_type string, value double, "
        "ts timestamp_ntz"
    )
    for i, chunk in enumerate([chunk0, chunk1, chunk2, chunk3]):
        spark.createDataFrame(
            [(r.event_id, r.user_id, r.event_type, r.value, r.ts)
             for r in chunk],
            schema,
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, f"chunk={i}")
        )

    s = jobs.with_watermark(
        jobs.read_events_stream(spark, d), f"{delay_h} hours"
    )
    agg = s.groupBy(F.window("ts", "1 hour").alias("w")).agg(
        F.sort_array(F.collect_list("event_id")).alias("ids")
    )
    out = jobs.run_to_memory(agg, output_mode="append")
    got = {
        r.w.end.replace(tzinfo=None): list(r.ids) for r in out.collect()
    }
    assert got == expected, (
        f"windows: got {len(got)} expected {len(expected)}; "
        f"key diff: {sorted(set(got) ^ set(expected))[:3]}; "
        f"id diffs: "
        f"{[(k, got[k], expected[k]) for k in got if k in expected and got[k] != expected[k]][:2]}"
    )
