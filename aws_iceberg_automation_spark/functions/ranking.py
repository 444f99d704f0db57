"""Scale-safe ranking without a single-partition window.

`row_number()`, `ntile()` or a running sum `OVER (ORDER BY ...)` with no
PARTITION BY moves the whole input to one task (Spark logs `WindowExec:
No Partition Defined`). This module replaces that window with two
shapes.

``topn_ranked`` ranks a bounded top-n with no window at all:

    top-n via TakeOrderedAndProject            (distributed, bounded)
    repartition(1) of n rows                   (trivial shuffle barrier —
                                                NOT coalesce, which would
                                                collapse upstream stages)
    sortWithinPartitions + monotonically_increasing_id
                                               (exact rank: partition 0 →
                                                ids 0..n-1 in sort order)

The bucket decompositions (``global_row_number``, ``global_ntile``,
``global_ntiles``, ``partitioned_prefix_sums``, ``grouped_row_number``)
rank every row: range-bucket on the order value with a MONOTONE
bucketing (cross-bucket order is value order, and equal values always
share a bucket), rank inside each bucket with a window PARTITIONED by
the bucket, and add the bucket's exclusive-prefix offset. The bucket
cuts and the per-bucket counts/sums come from ONE eager exact-histogram
job (``_cells_hist_bucketize``) and are inlined into the plan as
literals. Contracts shared by every decomposition:

- The sort keys ``(value, *tiebreaks)`` must define a total order
  (callers always end with a unique tiebreak column), so the rank is
  deterministic and hash-stable against a SQL window oracle.
- ``value`` is an integer, floating-point or DATE column; any other
  type raises TypeError before any job runs (cast it first). A
  streaming frame raises ValueError: the histogram is collected while
  the plan is built.
- NULL values land in bucket 0 and rank first, as in Spark's ascending
  window (NULLS FIRST). An ANSI oracle's ``ORDER BY ... NULLS LAST``
  differs, so coalesce or filter nullable dimensions where that
  matters (``desc_as_asc`` does it for descending keys). NaN ranks
  last, above +∞, as Spark sorts it.
- DETERMINISTIC RE-EXECUTION: the histogram job and the main query are
  separate executions of ``df``. The input must produce identical rows
  on re-execution (static files or a ``checkpoint_df``-pinned frame), or
  the inlined offsets mismatch the ranked rows and results are silently
  wrong. Every registered caller reads fixtures or checkpoints; pin any
  non-deterministic upstream before calling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _check_names(df: DataFrame, *names: str) -> None:
    """The helpers attach working columns to the carried frame; a
    caller column with the same name would be silently clobbered (or
    the output column dropped with the scaffolding) — fail loudly
    instead."""
    clash = [n for n in names if n in df.columns]
    if clash:
        raise ValueError(
            f"input frame already has column(s) {clash!r}, which this "
            "ranking helper needs for itself — rename them first"
        )


def cap_groups(
    df: DataFrame,
    keys: list[str],
    order: list[Column],
    cap: int,
) -> DataFrame:
    """Skew-cap discipline shared by the LSH bucket cap, the q168
    basket cap, and q135's co-buyer group cap: keep the first ``cap``
    rows per ``keys`` group under ``order`` (deterministic — callers
    order by a unique id), bounding any downstream per-group pairwise
    work at C(cap, 2) regardless of how hot the group is. The window
    is PARTITIONED by the group keys — scale-safe by construction."""
    _check_names(df, "_cap_rn")
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_cap_rn", F.row_number().over(w))
        .filter(F.col("_cap_rn") <= cap)
        .drop("_cap_rn")
    )


def _sql_num(v: int | float) -> str:
    """Exact SQL-literal rendering of an int64 or float bucket bound
    for the single-round-trip F.expr bucket strings.

    - int → ``<v>L`` (BIGINT literal; int-vs-wider comparisons promote
      exactly as ``F.lit(int)`` does)
    - float → ``CAST('<repr>' AS DOUBLE)``: repr round-trips the exact
      binary value and Java's string→double parse is correctly rounded,
      so the literal is bit-identical to ``F.lit(float)``. (A bare
      decimal literal would parse as DECIMAL and the decimal→double
      coercion is not guaranteed correctly rounded.) -0.0 renders as
      0.0 (x + 0.0 is the IEEE idiom; comparison-wise identical): a
      Literal(-0.0) inside one of several bucket CASE-sums in the SAME
      projection trips a whole-stage-codegen subexpression-elimination
      bug in Spark 4.1.2 — every term of the poisoned sum evaluates 0
      under codegen (correct interpreted), so rows bucket differently
      across plan paths. Found by
      test_multi_ntile_matches_window_per_dimension's fuzz."""
    if isinstance(v, int):
        return f"{v}L"
    v += 0.0
    if v != v:
        return "CAST('NaN' AS DOUBLE)"
    if v == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if v == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return f"CAST('{v!r}' AS DOUBLE)"


def _bucket_literal_expr(sname: str, bounds: list[int | float]) -> Column:
    """Bucket = #(bound <= value) over the scratch column ``sname``, as
    ONE F.expr CASE-sum string with the bounds inlined as literals.

    One string, not a Python-composed chain of when/otherwise Columns:
    in classic (py4j) mode every Column operation is a synchronous
    round-trip to the JVM, and the composed form cost ~4,000 round-trips
    (~0.5 s of socket latency) per 3-dimension call at ANY data size. A
    sum of indicator terms, not filter(array<lit>, lambda): lambda
    outer-references break under Catalyst's self-join attribute dedup
    (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND when the bucketed frame joins a
    frame derived from itself, as grouped consumers do); plain
    comparisons survive any rewrite. A NULL value compares NULL against
    every bound and lands in bucket 0. Shared with the z-order layout
    (sources/layout.py)."""
    if not bounds:
        # n_buckets=1 or an empty input: the joined string would be
        # "CAST( AS INT)", a ParseException
        return F.lit(0)
    terms = " + ".join(
        f"(CASE WHEN {_sql_num(b)} <= `{sname}` THEN 1 ELSE 0 END)"
        for b in bounds
    )
    return F.expr(f"CAST({terms} AS INT)")


# --------------------------------------------------------------------
# Exact-histogram bucketization. Every value is quantized to a
# bounded-cardinality integer CELL by an *exactly monotone* map (bit
# tricks below — never floating log/quantile arithmetic, whose 1-ulp
# wobble could misorder adjacent values and silently corrupt ranks).
# ONE eager job collects the exact per-cell counts (and sums), and both
# the quantile-balanced bucket cuts AND the per-bucket offsets derive
# from that one collected frame in Python. The cuts are then inverted
# back to exact VALUE-space literals, so the main plan buckets with the
# plain CASE-sum of _bucket_literal_expr (no reflect/bin anywhere in the
# per-row path) and the decomposition executes its input twice:
# histogram + main. Ranks/ntiles/prefix sums are exact under ANY
# monotone bucketing; only balance depends on the cuts, and the cells
# are fine enough (≥256 cells per binary octave) to balance any data
# spanning a few percent of relative range.

_INT_KINDS = {"tinyint", "smallint", "int", "bigint"}
_DBL_KINDS = {"float", "double"}
_I64_MIN = -(2**63)
_NAN_CELL = 2**63 - 1  # NaN forced above every real cell → last bucket,
# matching Spark's NaN semantics in the main plan's CASE (NaN is larger
# than every other double, so every `lit <= NaN` is true)
_DBL_CELL_SHIFT = 44  # sortable-bits >> 44: 256 cells/octave, ≤ ~1M
# possible cells across the entire double range (the collect bound)


def _int_cell_sql(s: str) -> str:
    """Exactly monotone bounded-cardinality cell for a BIGINT scratch
    column: packs (bit_length, top 10 mantissa bits) as
    bit_length·1024 + (v >> (bit_length-10)) for v>0, mirrored for
    v<0, 1024 for 0 — pure integer ops (length(bin(v)) is the exact
    bit length), ≤ 2·65536 possible cells, ~512-1024 cells per binary
    octave. INT64_MIN cannot be negated (ANSI would throw) and gets a
    dedicated below-everything marker."""
    pos = (
        f"length(bin(`{s}`)) * 1024L + "
        f"shiftright(`{s}`, greatest(length(bin(`{s}`)) - 10, 0))"
    )
    neg = (
        f"-(length(bin(-`{s}`)) * 1024L + "
        f"shiftright(-`{s}`, greatest(length(bin(-`{s}`)) - 10, 0)))"
    )
    return (
        f"CASE WHEN `{s}` = {_I64_MIN}L THEN -66000L "
        f"WHEN `{s}` < 0 THEN {neg} ELSE {pos} END"
    )


def _dbl_bits_sql(s: str) -> str:
    """IEEE-754 bits of a DOUBLE scratch column as BIGINT (exact —
    reflection into Double.doubleToRawLongBits; JVM-internal, no Python
    boundary). +0.0 is added first so -0.0 and 0.0 share bits (the
    engine-wide -0.0 normalization; x + 0.0 is the IEEE idiom). NULL
    never reaches reflect (it aborts the job on a NULL argument): it
    stays NULL, so its cell is NULL and it lands in bucket 0, as on the
    int path."""
    return (
        f"CASE WHEN `{s}` IS NULL THEN NULL ELSE "
        "CAST(reflect('java.lang.Double','doubleToRawLongBits', "
        f"`{s}` + CAST(0.0 AS DOUBLE)) AS BIGINT) END"
    )


def _dbl_cell_sql(val: str, bits: str) -> str:
    """Monotone cell from the bits column: the standard sign-flip makes
    the bit pattern totally ordered as a signed long (negative doubles
    get their low 63 bits flipped), then >> 44 buckets it. NaN (whose
    bit patterns sit at both ends) is forced to the above-everything
    marker so the histogram agrees with the main plan's CASE-sum."""
    flip = f"(`{bits}` ^ (shiftright(`{bits}`, 63) & {2**63 - 1}L))"
    return (
        f"CASE WHEN isnan(`{val}`) THEN {_NAN_CELL}L "
        f"ELSE shiftright({flip}, {_DBL_CELL_SHIFT}) END"
    )


def _int_cell_max(k: int) -> int:
    bl, top = divmod(k, 1024)
    return top if bl <= 10 else ((top + 1) << (bl - 10)) - 1


def _int_cell_min(k: int) -> int:
    """Smallest int64 whose _int_cell_sql cell is ``k`` (exact inverse
    — the cut-cell → value-space threshold conversion)."""
    if k == -66000:
        return _I64_MIN
    if k < 0:
        return -_int_cell_max(-k)
    bl, top = divmod(k, 1024)
    return top if bl <= 10 else top << (bl - 10)


def _dbl_cell_min(k: int) -> float:
    """Smallest double whose _dbl_cell_sql cell is ``k``: invert the
    sign-flip on the cell's smallest sortable bit pattern. Exact. The
    NaN cell's threshold is NaN itself: only NaN is ``>=`` it."""
    import struct

    if k == _NAN_CELL:
        return float("nan")
    s = k << _DBL_CELL_SHIFT
    bits = s if s >= 0 else s ^ (2**63 - 1)
    v = struct.unpack("<d", struct.pack("<q", bits))[0]
    if v != v:
        # the cell containing -inf also spans the negative-NaN bit
        # patterns below it; no real value sits under -inf, and NaN
        # inputs are forced to _NAN_CELL, so -inf is the true minimum
        return float("-inf")
    return v


def _pick_cuts_and_totals(
    entries: list[tuple], n_buckets: int, n_sums: int
) -> tuple[list[int], list[int], list[list[int]]]:
    """From ascending (cell, count, *sums) histogram entries (None cell
    first): quantile-balanced cut cells (bucket b = #(cut <= cell)),
    exact per-bucket counts, exact per-bucket sums. Pure integer
    arithmetic — cum·n_buckets ≥ (len+1)·total is the exact form of
    cum ≥ (len+1)·total/n_buckets. A cut is always a cell after the
    first entry, so the NULL cell stays in bucket 0."""
    import bisect

    total = sum(e[1] for e in entries)
    cuts: list[int] = []
    cum = 0
    for i, e in enumerate(entries):
        cum += e[1]
        if (
            len(cuts) < n_buckets - 1
            and i + 1 < len(entries)
            and cum * n_buckets >= (len(cuts) + 1) * total
        ):
            cuts.append(entries[i + 1][0])
    counts = [0] * n_buckets
    sums = [[0] * n_buckets for _ in range(n_sums)]
    for e in entries:
        b = 0 if e[0] is None else bisect.bisect_right(cuts, e[0])
        counts[b] += e[1]
        for j in range(n_sums):
            if e[2 + j] is not None:
                sums[j][b] += e[2 + j]
    return cuts, counts, sums


def _cells_hist_bucketize(
    df: DataFrame,
    ranks: list[tuple[Column, str]],
    n_buckets: int,
    sum_cols: list[str] | None = None,
) -> tuple[DataFrame, dict[str, list[int]], dict[str, list[int]]]:
    """Tag ``df`` with one bucket column per ``(value, name)`` pair in
    ONE eager job: exact per-cell histogram (explode-per-dimension when
    multi-rank, so the collect is bounded by dims × cells, never a cell
    cross product), Python-side balanced cuts + exact offsets, and
    bucket columns rebuilt as value-space literal CASE-sums. Returns
    ``(bucketed_df, counts_by_bucket_col, sums_by_col)``. Integer values
    cell as BIGINT, DATE values as their BIGINT ``unix_date`` day
    number, float/double values through their IEEE bits; any other type
    raises TypeError before any job runs.

    ``sum_cols`` requires a single rank and integer-typed columns, so
    the Python prefix sums downstream are exact (callers pass counts or
    integer cents/micros). NULL sum values contribute nothing (SUM skips
    NULLs)."""
    if df.isStreaming:
        raise ValueError(
            "the ranking decompositions are batch-only: they collect a "
            "histogram eagerly at plan-build time, which a streaming "
            "DataFrame cannot do"
        )
    if sum_cols and len(ranks) != 1:
        raise ValueError("sum_cols requires exactly one rank dimension")
    names = [n for _, n in ranks]
    probe = df.select(
        *[v.alias(f"_p{i}") for i, (v, _) in enumerate(ranks)]
    )
    kinds: list[str] = []
    vals: list[Column] = []
    for (v, _), f in zip(ranks, probe.schema.fields):
        t = f.dataType.simpleString()
        if t in _INT_KINDS:
            kinds.append("int")
            vals.append(v.cast("bigint"))
        elif t == "date":
            kinds.append("int")
            vals.append(F.unix_date(v).cast("bigint"))
        elif t in _DBL_KINDS:
            kinds.append("dbl")
            vals.append(v.cast("double"))
        else:
            raise TypeError(
                f"ranking value {v} has type {t}; the decompositions "
                "bucket integer, floating-point and date values only — "
                "cast it first"
            )
    val_cols = [f"_qbr_val_{n}" for n in names]
    cell_cols = [f"_qbr_cell_{n}" for n in names]
    bits_cols = [f"_qbr_bits_{n}" for n in names]
    _check_names(df, *val_cols, *cell_cols, *bits_cols)
    out = df.select(
        "*", *[v.alias(s) for v, s in zip(vals, val_cols)]
    )
    # Histogram branch: project only the needed columns before the agg
    # (guide §2.3), materialize bits, then cells, then aggregate.
    hist = out.select(*val_cols, *(sum_cols or []))
    hist = hist.select(
        "*",
        *[
            F.expr(_dbl_bits_sql(s)).alias(bc)
            for k, s, bc in zip(kinds, val_cols, bits_cols)
            if k == "dbl"
        ],
    )
    hist = hist.select(
        *(sum_cols or []),
        *[
            F.expr(
                _int_cell_sql(s) if k == "int" else _dbl_cell_sql(s, bc)
            ).alias(c)
            for k, s, c, bc in zip(kinds, val_cols, cell_cols, bits_cols)
        ],
    )
    if len(ranks) == 1:
        aggs = [F.count(F.lit(1)).alias("_hcnt")] + [
            F.sum(F.col(c)).cast("bigint").alias(f"_hsum_{i}")
            for i, c in enumerate(sum_cols or [])
        ]
        rows = hist.groupBy(cell_cols[0]).agg(*aggs).collect()
        per_dim = {0: [tuple(r) for r in rows]}
    else:
        ex = hist.select(
            F.posexplode(F.array(*[F.col(c) for c in cell_cols])).alias(
                "_hdim", "_hcell"
            )
        )
        rows = (
            ex.groupBy("_hdim", "_hcell")
            .agg(F.count(F.lit(1)).alias("_hcnt"))
            .collect()
        )
        per_dim = {i: [] for i in range(len(ranks))}
        for r in rows:
            per_dim[r[0]].append((r[1], r[2]))
    counts_by: dict[str, list[int]] = {}
    sums_by: dict[str, list[int]] = {}
    for i, (name, kind, sname) in enumerate(zip(names, kinds, val_cols)):
        entries = sorted(
            per_dim[i], key=lambda e: (e[0] is not None, e[0] or 0)
        )
        n_sums = len(sum_cols or []) if len(ranks) == 1 else 0
        cuts, counts, sums = _pick_cuts_and_totals(
            entries, n_buckets, n_sums
        )
        inv = _int_cell_min if kind == "int" else _dbl_cell_min
        bounds = [inv(c) for c in cuts]
        out = out.withColumn(name, _bucket_literal_expr(sname, bounds))
        counts_by[name] = counts
        for j, c in enumerate(sum_cols or []):
            sums_by[c] = sums[j]
    return out.drop(*val_cols), counts_by, sums_by


def desc_as_asc(c: Column) -> Column:
    """``ORDER BY c DESC NULLS LAST`` expressed as an ASCENDING sort
    key for the windowless rank/ntile decompositions: negate, and send
    NULL to +∞ so it lands last. Plain negation alone silently flips
    null placement (Spark ASC defaults NULLS FIRST, DESC defaults
    NULLS LAST) — a latent divergence from the window/oracle form the
    moment the column becomes nullable.

    Contract: FINITE FLOAT/DOUBLE keys (or integers within the
    double-exact range |v| < 2^53). The +∞ NULL sentinel type-unifies
    the result to DOUBLE, so 64-bit integer keys above 2^53 would
    collapse ties, and NaN inputs sort after the NULL sentinel whereas
    a true DESC puts NaN first — for such keys negate directly and
    handle nulls explicitly."""
    return F.coalesce(-c, F.lit(float("inf")))


def _exclusive_prefix(counts: list[int]) -> list[int]:
    """Exclusive prefix sums of a per-bucket count/sum list (exact —
    Python ints)."""
    off = [0]
    for v in counts[:-1]:
        off.append(off[-1] + v)
    return off


def _offset_lookup(off: list[int], bucket_col: str) -> Column:
    """The bucket's exclusive-prefix offset as a LITERAL array lookup —
    no join, no broadcast, nothing new in the plan but one expression.
    ``bucket_col`` is the 0-based int bucket column name; element_at is
    1-based. Built as one F.expr string: the Column-composed form cost
    ~130 py4j round-trips per call (offsets are exact Python ints, so
    the BIGINT literals are exact)."""
    arr = ",".join(f"{v}L" for v in off)
    return F.expr(f"element_at(array({arr}), `{bucket_col}` + 1)")


def _bucket_offsets(
    per_bucket: DataFrame,
    cnt_cols: list[str],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Exclusive prefix sums of ``cnt_cols`` over ``_bucket`` order —
    within each ``group_cols`` group when given — via a triangular
    broadcast self-join on the ≤|groups|·n_buckets bucket-total rows;
    no WindowExec anywhere. Used by ``grouped_row_number`` only:
    |groups|·n_buckets offsets can reach thousands×64, too many for the
    literal-array inlining of the ungrouped helpers, so a broadcast join
    is the right shape there. Group equality is NULL-SAFE (a NULL group
    key is a real group, exactly as PARTITION BY treats it). Returns
    (*group_cols, _bucket, _off_<col>...)."""
    group_cols = group_cols or []
    p, q = per_bucket.alias("p"), per_bucket.alias("q")
    cond = F.col("q._bucket") < F.col("p._bucket")
    for g in group_cols:
        cond = cond & F.col(f"q.{g}").eqNullSafe(F.col(f"p.{g}"))
    return (
        p.join(F.broadcast(q), cond, "left")
        .groupBy(
            *[F.col(f"p.{g}").alias(g) for g in group_cols],
            F.col("p._bucket").alias("_bucket"),
        )
        .agg(
            *[
                F.coalesce(F.sum(f"q.{c}"), F.lit(0))
                .cast("bigint")
                .alias(f"_off_{c}")
                for c in cnt_cols
            ]
        )
    )


def global_row_number(
    df: DataFrame,
    value: Column,
    tiebreaks: list[Column],
    n_buckets: int = 64,
    rank_name: str = "rk",
) -> DataFrame:
    """Exact global ``row_number() OVER (ORDER BY value, *tiebreaks)``
    WITHOUT a single-partition window: histogram-bucket on the value,
    add each bucket's exclusive-prefix count (a literal lookup) to a
    PARTITIONED rank window inside the bucket. Every stage is bounded:
    the widest window sees ~N/n_buckets rows (tune n_buckets to the
    cluster; the cuts are quantile-balanced, so skewed score
    distributions still ~balance). The input executes twice: the eager
    histogram job and the main query. At extreme input sizes, persist()
    the projected (value, tiebreaks) frame before calling; the
    decomposition itself never concentrates data. (A
    spark_partition_id()-based variant over repartitionByRange was
    measured and rejected: the nondeterministic partition-id expression
    blocks exchange reuse and gives up deterministic, testable
    bucketing.) See the module docstring for the shared contracts."""
    _check_names(df, rank_name, "_bucket")
    b, counts, _ = _cells_hist_bucketize(df, [(value, "_bucket")], n_buckets)
    off = _exclusive_prefix(counts["_bucket"])
    w = Window.partitionBy("_bucket").orderBy(value, *tiebreaks)
    return (
        b.withColumn(
            rank_name,
            (_offset_lookup(off, "_bucket") + F.row_number().over(w))
            .cast("bigint"),
        )
        .drop("_bucket")
    )


def global_ntile(
    df: DataFrame,
    value: Column,
    tiebreaks: list[Column],
    k: int,
    out_name: str = "bucket",
    n_buckets: int = 64,
) -> DataFrame:
    """Exact ``ntile(k) OVER (ORDER BY value, *tiebreaks)`` without a
    single-partition window: the ``global_row_number`` decomposition
    plus ntile's closed-form tile assignment (``_ntile_expr``), with the
    total row count taken from the same histogram. Same integer tiles as
    the window form, same hash. All scaffolding uses ``_gn_`` names so
    caller columns — including one named like ``out_name``'s default —
    can never be clobbered. See the module docstring for the shared
    contracts."""
    _check_names(df, out_name, "_bucket", "_gn_rk")
    b, counts, _ = _cells_hist_bucketize(df, [(value, "_bucket")], n_buckets)
    off = _exclusive_prefix(counts["_bucket"])
    n_total = sum(counts["_bucket"])
    w = Window.partitionBy("_bucket").orderBy(value, *tiebreaks)
    rn = (
        b.withColumn(
            "_gn_rk",
            (_offset_lookup(off, "_bucket") + F.row_number().over(w))
            .cast("bigint"),
        )
        .drop("_bucket")
    )
    return rn.withColumn(
        out_name, _ntile_expr(F.col("_gn_rk"), k, n_total)
    ).drop("_gn_rk")


def _ntile_expr(rank: Column, k: int, n_total: int) -> Column:
    """ntile's closed-form tile from an exact 1-based global rank and
    the exact total row count ``n_total`` (a Python int — the
    histogram's total, exact): with n = q·k + r, tiles 1..r hold q+1
    rows, tiles r+1..k hold q. When n < k every rank lands in the
    first block, so the q=0 division branch is never evaluated."""
    q_sz, r_sz = divmod(n_total, k)
    first_block = r_sz * (q_sz + 1)
    if q_sz == 0:
        # n < k: every rank is in the first block — never emit the
        # /q_sz branch (a /0 literal would raise under ANSI mode).
        return F.ceil(rank / (q_sz + 1)).cast("int")
    return (
        F.when(rank <= F.lit(first_block), F.ceil(rank / (q_sz + 1)))
        .otherwise(r_sz + F.ceil((rank - first_block) / q_sz))
        .cast("int")
    )


def global_ntiles(
    df: DataFrame,
    specs: list[tuple[Column, str]],
    tiebreaks: list[Column],
    k: int,
    n_buckets: int = 64,
) -> DataFrame:
    """Exact ``ntile(k) OVER (ORDER BY value_i, *tiebreaks)`` for
    SEVERAL independent value columns of the same frame at once
    (``specs`` = [(value, out_name), ...]) — the multi-dimension form
    the RFM-style segmentations need.

    Chaining ``global_ntile`` per dimension is correct but
    constant-heavy: each call starts with an eager histogram collect
    whose plan CONTAINS every previous dimension's window
    decomposition, so dimension i's tiny eager job drags i-1 windows'
    worth of codegen and execution behind it (the 74-shuffle q208
    profile). This form hoists the eager part: ONE histogram job over
    the plain input frame yields every dimension's bucket cuts and
    per-bucket counts (≤ dims × n_buckets bigints, inlined as literal
    offset/total lookups — no joins in the plan), and only the cheap
    partitioned rank windows chain — one repartition per dimension,
    which is the irreducible cost of k independent global orders. Tile
    semantics and hashes are identical to ``global_ntile``; see the
    module docstring for the shared contracts."""
    names = [n for _, n in specs]
    buckets = [f"_bucket_{n}" for n in names]
    rks = [f"_gn_rk_{n}" for n in names]
    _check_names(df, *names, *buckets, *rks)
    b, counts, _ = _cells_hist_bucketize(
        df, [(v, bc) for (v, _), bc in zip(specs, buckets)], n_buckets
    )
    n_total = sum(counts[buckets[0]])
    out = b
    for (value, name), bcol, rk in zip(specs, buckets, rks):
        off = _exclusive_prefix(counts[bcol])
        w = Window.partitionBy(bcol).orderBy(value, *tiebreaks)
        out = out.withColumn(
            rk,
            (_offset_lookup(off, bcol) + F.row_number().over(w))
            .cast("bigint"),
        )
    for name, rk in zip(names, rks):
        out = out.withColumn(name, _ntile_expr(F.col(rk), k, n_total))
    return out.drop(*buckets, *rks)


def partitioned_prefix_sums(
    df: DataFrame,
    value: Column,
    sum_cols: list[str],
    n_buckets: int = 64,
    tiebreaks: list[Column] | None = None,
) -> DataFrame:
    """Exact running sums of ``sum_cols`` in ``value`` order (adds
    ``cum_<col>`` columns) without a single-partition window: the same
    bucket/offset decomposition as ``global_row_number``, with the
    within-bucket cumulative window PARTITIONED by bucket. ``value``
    must be unique per row (e.g. the output of a groupBy on it) UNLESS
    ``tiebreaks`` completes it to a total order — the buckets are
    MONOTONE (equal values always share a bucket), so a tie never
    spans buckets and the within-bucket (value, *tiebreaks) order is
    the global one. Passing tiebreaks instead of pre-ranking the frame
    (the old q209 shape: global_row_number → prefix sums over rk) is
    one decomposition instead of two chained ones.

    INTEGER ``sum_cols`` contract (every registered caller passes
    counts or integer cents/micros): the per-bucket sums come from the
    histogram job as exact Python ints and are inlined as literal
    offsets. See the module docstring for the shared contracts."""
    tiebreaks = tiebreaks or []
    _check_names(df, "_bucket", *[f"cum_{c}" for c in sum_cols])
    b, _, sums = _cells_hist_bucketize(
        df, [(value, "_bucket")], n_buckets, sum_cols=sum_cols
    )
    w = (
        Window.partitionBy("_bucket")
        .orderBy(value, *tiebreaks)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = b
    for c in sum_cols:
        off = _exclusive_prefix(sums[c])
        out = out.withColumn(
            f"cum_{c}",
            (_offset_lookup(off, "_bucket") + F.sum(c).over(w))
            .cast("bigint"),
        )
    return out.drop("_bucket")


def topn_ranked(
    df: DataFrame,
    order: list[Column],
    n: int,
    rank_name: str = "rk",
) -> DataFrame:
    """Return the top ``n`` rows of ``df`` under ``order`` (a list of
    Column sort expressions forming a total order), with a 1-based
    ``rank_name`` column — no WindowExec anywhere in the plan."""
    _check_names(df, rank_name)
    top = df.orderBy(*order).limit(n)
    return (
        top.repartition(1)
        .sortWithinPartitions(*order)
        .withColumn(rank_name, (F.monotonically_increasing_id() + 1).cast("int"))
    )


def grouped_row_number(
    df: DataFrame,
    group_cols: list[str],
    value: Column,
    tiebreaks: list[Column],
    n_buckets: int = 64,
    rank_name: str = "rk",
) -> DataFrame:
    """Exact ``row_number() OVER (PARTITION BY *group_cols ORDER BY
    value, *tiebreaks)`` for FEW, HUGE groups — the regime where a
    plain partitioned window is a trap (5 market segments over 10^8
    customers = 5 hot single-task partitions). Same decomposition as
    ``global_row_number``, group-aware: one GLOBAL set of histogram
    buckets (monotone in ``value``, hence monotone within every group),
    per-(group, bucket) counts prefix-summed through a broadcast
    triangular join keyed on the group, and a window PARTITIONED by
    (group, bucket) — the widest task sees ~N/(|groups|·n_buckets)
    rows. The input executes three times: the histogram job, the
    per-(group, bucket) counts and the ranked rows.

    Contract: the counts frame is |groups| × n_buckets rows and is
    broadcast — use this helper when groups are few (≤ thousands).
    Numerous small groups don't need it: a window partitioned by the
    group key alone is already scale-safe. NULL group keys are a real
    group (exactly as PARTITION BY treats them): both the offset join
    and the final bucket join are NULL-SAFE, so no row is dropped. See
    the module docstring for the shared contracts."""
    _check_names(df, rank_name, "_bucket", "_off__cnt")
    b = _cells_hist_bucketize(df, [(value, "_bucket")], n_buckets)[0]
    counts = b.groupBy(*group_cols, "_bucket").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    offsets = _bucket_offsets(counts, ["_cnt"], group_cols)
    w = Window.partitionBy(*group_cols, "_bucket").orderBy(value, *tiebreaks)
    bb, oo = b.alias("b"), offsets.alias("o")
    cond = F.col("b._bucket") == F.col("o._bucket")
    for g in group_cols:
        cond = cond & F.col(f"b.{g}").eqNullSafe(F.col(f"o.{g}"))
    return (
        bb.join(F.broadcast(oo), cond)
        .select("b.*", "o._off__cnt")
        .withColumn(
            rank_name,
            (F.col("_off__cnt") + F.row_number().over(w)).cast("bigint"),
        )
        .drop("_bucket", "_off__cnt")
    )
