"""Multi-dimensional file layout: Z-order clustering for data skipping
(the Iceberg ``rewrite_data_files(strategy => 'sort', sort_order =>
'zorder(a, b)')`` analog, expressed as plain DataFrame ops).

Why: parquet/Iceberg scan pruning works off per-file (and per-row-group)
min/max stats. A layout sorted on one column prunes perfectly on that
column and not at all on any other — every file spans the full range of
the second dimension. Interleaving the bits of several columns' ranks
into one Z-value and range-partitioning on it gives every file a small
bounding box in ALL clustered dimensions, so selective filters on any
of them skip most files.

Per-column rank comes from APPROX-QUANTILE boundaries computed once in a
single eager agg, collected and inlined into the plan as CASE-sum
literals (equal-frequency buckets, so value skew cannot collapse the
curve) — NOT from a ``percent_rank`` global window, which would funnel
the whole table through one task. The boundaries are 2^bits-1 doubles
per column (255 at the default 8 bits); the per-row rank is a sum of
literal comparisons; the interleave is pure bit math. 8 bits/dim = 256
cells per dimension — orders of magnitude finer than any realistic file
count, so pruning quality is indistinguishable from the exact-rank
layout while every stage stays distributed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# bits per dimension; 256 equal-frequency cells/dim — file- and
# row-group-level bounding boxes need far fewer, and the 255 boundary
# literals per column stay trivially small
_BITS = 8


def _rankable(df: DataFrame, c: str) -> Column:
    """Numeric, order-preserving view of a clustered column for
    percentile_approx. Numeric/date/timestamp columns cast to double
    directly; strings map to the big-endian integer of their first 6
    UTF-8 bytes (48 bits — exact in a double), which preserves
    lexicographic order at bucket granularity. Anything else is
    rejected loudly rather than silently contributing a constant rank."""
    dt = df.schema[c].dataType.typeName()
    if dt in {
        "byte", "short", "integer", "long", "float", "double", "decimal",
        "date", "timestamp", "timestamp_ntz", "boolean",
    }:
        return F.col(c).cast("double")
    if dt == "string":
        # Big-endian integer of the first 6 bytes AFTER the corpus-wide
        # common prefix (min/max share it iff every value does) —
        # URL-like columns with a long shared scheme/host otherwise
        # collapse to one rank. 6 bytes = 48 bits, exact in a double;
        # right-pad the hex to fixed width so shorter strings stay
        # lexicographically below their extensions. Costs one tiny
        # min/max agg per string column at layout-write time.
        import os.path

        row = df.agg(F.min(c).alias("mn"), F.max(c).alias("mx")).first()
        pfx = len(os.path.commonprefix([row.mn or "", row.mx or ""]))
        tail = F.substring(F.col(c), pfx + 1, 6)
        hex6 = F.rpad(
            F.substring(F.hex(F.encode(tail, "utf-8")), 1, 12), 12, "0"
        )
        return F.conv(hex6, 16, 10).cast("double")
    raise TypeError(
        f"z-order column {c!r} has unsupported type {dt}; "
        "cast it to a numeric/date/string column first"
    )


def _boundary_ranks(df: DataFrame, cols: list[str], bits: int) -> DataFrame:
    """Tag ``df`` with ``_rank_<col>`` ∈ [0, 2^bits) per clustered
    column: rank = #(approx-quantile boundaries <= value), every
    column's boundaries from ONE percentile_approx agg (monotone
    equal-frequency buckets, no global window).

    Repeated boundaries are kept on purpose: a column with few distinct
    values repeats each one across many quantiles, so its values still
    spread over the whole 0..2^bits-1 rank range (15 user_ids land ~17
    ranks apart, not on 0..14) and the curve keeps splitting files on
    it. That is why z-order does not use the ranking decompositions'
    exact histogram, which emits each cut once: there a 15-value
    column ranks 0..14 and its double cells merge nearby string
    surrogates into one cell."""
    from ..functions.ranking import _bucket_literal_expr, _check_names

    n = 1 << bits
    qs = [i / n for i in range(1, n)]
    ranks = [(_rankable(df, c), f"_rank_{c}") for c in cols]
    bounds = df.agg(
        *[F.percentile_approx(v, qs, 10_000).alias(name) for v, name in ranks]
    ).collect()[0]
    # The per-row rank reads a scratch copy of the rankable value, so the
    # CASE-sum string can name it.
    scratch = [f"_zval_{c}" for c in cols]
    _check_names(df, *scratch)
    out = df.select("*", *[v.alias(s) for (v, _), s in zip(ranks, scratch)])
    for (_, name), s in zip(ranks, scratch):
        # None: empty input frame
        out = out.withColumn(name, _bucket_literal_expr(s, bounds[name] or []))
    return out.drop(*scratch)


def _interleave(rank_cols: list[Column], bits: int) -> Column:
    """Bit-interleaved Z-address (column i contributes bit b to output
    position b*len(rank_cols)+i)."""
    out = F.lit(0).cast("long")
    for b in range(bits):
        for i, r in enumerate(rank_cols):
            bit = F.shiftright(r, b).bitwiseAND(F.lit(1))
            out = out.bitwiseOR(F.shiftleft(bit, b * len(rank_cols) + i))
    return out


def zorder_frame(df: DataFrame, cols: list[str], bits: int = _BITS) -> DataFrame:
    """Return ``df`` plus a ``_z`` Z-address column over ``cols`` —
    boundary-bucketed ranks interleaved, no global window anywhere."""
    ranked = _boundary_ranks(df, cols, bits)
    z = _interleave([F.col(f"_rank_{c}") for c in cols], bits)
    return ranked.withColumn("_z", z).drop(*[f"_rank_{c}" for c in cols])


def write_zordered(
    df: DataFrame, path: str, cols: list[str], n_files: int = 16
) -> None:
    """Write df Z-order-clustered on ``cols``: range-partition by the
    Z-value (n_files contiguous curve segments = n_files files whose
    min/max boxes are small in every clustered dimension), sorted
    within partitions for row-group-level stats."""
    (
        zorder_frame(df, cols)
        .repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
