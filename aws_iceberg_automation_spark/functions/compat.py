"""Expression helpers that keep Spark results value-identical to the
DuckDB oracle (the driver hash-matches values — SURVEY.md §4.3).

Double summation is order-dependent across Spark partitions, and even a
decimal→double cast can differ by 1 ulp between engines. So:

- Exact aggregates (sums/products of fixture doubles that are really
  fixed-point money/rates) are computed in DECIMAL — exact and
  order-independent — then **surfaced as STRING** in the final
  projection on both sides ("decimal inside, string out").
  Rationale (round-2 lesson): the external driver canonicalizes via
  pandas, where DuckDB decimals degrade to float64 while Spark returns
  decimal.Decimal — never hash-equal. A decimal→DOUBLE cast is no fix:
  DuckDB's decimal→double is *not* correctly rounded (measured ~8%
  of random 15+-digit values off by ≥1 ulp in this container), while
  the JVM's is. CAST(dec AS STRING/VARCHAR) renders identical plain
  digit strings at the same scale in both engines (verified incl.
  scale-10 sub-1e-6 values) — digit-exact through any canonicalizer.
- Intrinsically inexact values (averages, stddev, correlations) are
  rounded to a fixed number of decimals on both sides; a 1-ulp input
  difference survives rounding only within ~1e-11 of a boundary, and
  these values are never exact decimals, so systematic ties cannot
  occur. (Never round an *exact* scale-s decimal at a coarser scale —
  ties at digit '5' flip between engines ~1% of the time.)

Precision budget: money = DECIMAL(10,2), rates = DECIMAL(6,4). Spark's
multiply rule (p1+p2+1) then keeps disc_price at (18,6) and charge at
(26,10) — exact, no 38-precision overflow, scales equal to DuckDB's.

At 100 TB this is still whole-stage-codegen JVM arithmetic; the decimal
casts add no shuffle and no Python boundary. The final string render
touches |result| rows only — for aggregates that is |groups|, not |input|.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec2(c: str | Column) -> Column:
    """Money-precision decimal view of a double column (exact to cents).

    Precision 8 on purpose: Spark sums decimals on a long-backed fast
    path (UnscaledValue) only while the sum's result precision (input+10)
    stays ≤ 18 — measured 2.4× faster than precision-10 inputs. All
    money domains here (prices, balances, per-event values) are < 10^6
    and sf-independent, so (8,2) is lossless."""
    c = F.col(c) if isinstance(c, str) else c
    return c.cast("decimal(8,2)")


def dec4(c: str | Column) -> Column:
    """Rate-precision decimal (discount/tax fractions)."""
    c = F.col(c) if isinstance(c, str) else c
    return c.cast("decimal(6,4)")


def dsum(e: Column, alias: str, scale: int = 2) -> Column:
    """Exact decimal sum, surfaced as the plain digit string of its
    (38, scale) value — see module docstring ("decimal inside, string
    out")."""
    return F.sum(e).cast(f"decimal(38,{scale})").cast("string").alias(alias)


def dec_out(c: Column, alias: str, scale: int = 2) -> Column:
    """Surface any exact decimal expression as its (38, scale) digit
    string — the final-projection convention for non-sum decimals
    (window sums, pivot cells, per-row products)."""
    return c.cast(f"decimal(38,{scale})").cast("string").alias(alias)


def davg(e: Column, alias: str, ndigits: int = 6) -> Column:
    """Average as rounded double: exact decimal sum ÷ exact count."""
    return F.round(F.sum(e).cast("double") / F.count(F.lit(1)), ndigits).alias(alias)


def disc_price() -> Column:
    """l_extendedprice * (1 - l_discount); exact DECIMAL(18,6)."""
    return dec2("l_extendedprice") * (F.lit(1) - dec4("l_discount"))


def charge() -> Column:
    """l_extendedprice * (1 - l_discount) * (1 + l_tax); exact (26,10)."""
    return disc_price() * (F.lit(1) + dec4("l_tax"))


def ts_sec(c: str | Column) -> Column:
    """events.ts truncated to seconds — neutralizes the ns(DuckDB) vs
    µs(Spark) physical-precision gap on the events fixture."""
    c = F.col(c) if isinstance(c, str) else c
    return F.date_trunc("second", c).cast("timestamp_ntz")


def epoch_secs(
    col_name: str = "ts", anchor: str = "1970-01-01 00:00:00"
) -> Column:
    """Second-granularity epoch-style integer for an NTZ timestamp
    column, via tz-independent interval arithmetic (ANSI forbids
    timestamp→numeric casts). When only *differences* are consumed the
    anchor is arbitrary and cancels; sites comparing against a DuckDB
    ``epoch(...)`` oracle keep the 1970 default. One definition so a
    precision/anchor fix can never miss a copy."""
    return F.expr(
        f"timestampdiff(SECOND, TIMESTAMP_NTZ '{anchor}',"
        f" date_trunc('second', {col_name}))"
    )


# Oracle-side (DuckDB SQL) fragments mirroring the helpers above.
# (Declared oracle precisions may differ from Spark's — the *values* are
# the same exact decimals either way, and outputs are cast to (38,s).)
SQL_DISC_PRICE = (
    "CAST(l_extendedprice AS DECIMAL(10,2)) * (1 - CAST(l_discount AS DECIMAL(6,4)))"
)
SQL_CHARGE = SQL_DISC_PRICE + " * (1 + CAST(l_tax AS DECIMAL(6,4)))"


def sql_dsum(inner: str, alias: str, scale: int = 2) -> str:
    return f"CAST(CAST(SUM({inner}) AS DECIMAL(38,{scale})) AS VARCHAR) AS {alias}"


def sql_davg(inner: str, alias: str, ndigits: int = 6) -> str:
    return f"round(CAST(SUM({inner}) AS DOUBLE) / COUNT(*), {ndigits}) AS {alias}"


def portable_hash64(c: str | Column) -> Column:
    """Cross-engine deterministic 60-bit hash: the first 15 hex chars of
    md5, parsed as an integer — computable identically in Spark
    (``conv(substr(md5(x),1,15),16,10)``) and DuckDB
    (``CAST('0x' || substr(md5(x),1,15) AS BIGINT)``), verified
    value-equal in this container. 15 hex digits = 60 bits < 2^63, so
    the conv→BIGINT cast never overflows and the value is non-negative
    in both engines.

    This is the ORACLE-CHECKABLE hash (VERDICT r03 ask #2), and the
    ONE hash family of the engine's sketches: MinHash-LSH (base
    shingle hashes, band hashes, bucket-cap salt; operators/dedup.py)
    and Count-Min (:func:`cms_bucket`, for the text operators and the
    view measure) run on it, so every sketch query earns a real DuckDB
    hash row. No second family is kept. xxhash64 is faster at function
    level (sf0.01, 4 cores: the LSH banding step 0.31 s vs 0.44-0.58 s,
    the whole candidate-pair pipeline 0.99-1.08 s vs 1.23-1.47 s, the
    same 25 pairs found), but no registered query ever ran it, and
    every guarantee these operators rely on (CMS one-sided error, LSH
    banding probability, salt uniformity) is hash-family-independent."""
    c = F.col(c) if isinstance(c, str) else c
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def sql_portable_hash64(inner: str) -> str:
    """DuckDB fragment value-equal to :func:`portable_hash64` —
    including on NULL: ``||`` propagates NULL exactly like Spark's
    ``concat``/``md5`` (DuckDB's ``concat()`` function would instead
    swallow the NULL and hash a corrupted key, or crash the cast on
    an all-NULL key)."""
    return f"CAST('0x' || substring(md5({inner}), 1, 15) AS BIGINT)"


def cms_bucket(item: Column, seed: Column, width: int) -> Column:
    """The Count-Min hash-family member: bucket of ``item`` under
    ``seed``, the portable hash of ``"<seed>:<item>"`` mod ``width``.
    The key is the item's STRING form, so the bucket depends on the
    item's type (5 vs 5.0); probes must be cast to the build type."""
    key = F.concat(seed.cast("string"), F.lit(":"), item.cast("string"))
    return F.pmod(portable_hash64(key), width)


def sql_cms_bucket(item: str, seed: str, width: int) -> str:
    """DuckDB fragment value-equal to :func:`cms_bucket`."""
    key = f"(CAST({seed} AS VARCHAR) || ':' || CAST({item} AS VARCHAR))"
    return f"({sql_portable_hash64(key)} % {width})"


def ab_treat(c: str | Column) -> Column:
    """The experiment-family A/B assignment gate: treatment iff the
    key's md5 first hex digit < '8' (8/16 nibbles = exactly 50% by
    design). One definition shared by the lift readout (q238), the
    power planner (q254) and the SRM check (q257) — the two auditors
    exist to validate THIS assignment, so a salt/fraction change must
    hit all three or the audits silently cover a different experiment
    (code-review r4 finding)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.substring(F.md5(c.cast("string")), 1, 1) < "8"


def sql_ab_treat(inner: str) -> str:
    """DuckDB fragment value-equal to :func:`ab_treat`."""
    return f"substring(md5(CAST({inner} AS VARCHAR)), 1, 1) < '8'"


# Split boundaries on the md5-prefix hex space, shared by BOTH the
# Spark and SQL renderings below — the single source that makes the
# "boundary can never drift" claim structural, not aspirational.
_SPLIT_TEST_LT = "1a"  # 26/256 ≈ 10.2% → test
_SPLIT_VAL_LT = "34"  # next 26/256 ≈ 10.2% → val; rest → train


def split_bucket(c: str | Column) -> Column:
    """Deterministic train/val/test assignment from a key's md5 prefix
    (test ≈ 10.2%, val ≈ 10.2%, train the rest): reproducible across
    runs, engines, and cluster shapes — the q96 hash-gate idea promoted
    to a full split. Used by q206 (manifest) and q207 (leakage audit);
    both renderings read the module-level boundary constants above."""
    c = F.col(c) if isinstance(c, str) else c
    h = F.substring(F.md5(c.cast("string")), 1, 2)
    return (
        F.when(h < _SPLIT_TEST_LT, F.lit("test"))
        .when(h < _SPLIT_VAL_LT, F.lit("val"))
        .otherwise(F.lit("train"))
    )


def sql_split_bucket(inner: str) -> str:
    h = f"substring(md5(CAST({inner} AS VARCHAR)), 1, 2)"
    return (
        f"CASE WHEN {h} < '{_SPLIT_TEST_LT}' THEN 'test' "
        f"WHEN {h} < '{_SPLIT_VAL_LT}' THEN 'val' ELSE 'train' END"
    )


def month_day(col_name: str = "ts") -> Column:
    """Month-aware day bucket: ``(month-1)*31 + day`` — a strictly
    increasing day index across month boundaries (the q340/q352/q360
    epoch convention). On the single-month events fixture this equals
    plain day-of-month, so adopting it is hash-neutral; on any
    multi-month fixture it stops Jan-5 silently merging with Feb-5
    (round-8 advice finding — plain ``dayofmonth`` buckets collide
    across months and a shared-expression oracle can never catch it)."""
    return F.expr(
        f"(month({col_name}) - 1) * 31 + day({col_name})"
    ).cast("bigint")


def corr_from_moments(
    n: Column, sx: Column, sy: Column, sxy: Column, sxx: Column, syy: Column
) -> Column:
    """Pearson correlation from the five sufficient moments (plus n),
    NULL when either variance term is <= 0 — the ANSI-safe stand-in
    for built-in corr(), which raises DIVIDE_BY_ZERO on zero-variance
    input under Spark 4's default ANSI mode (q205 pattern). The oracle
    side must spell the IDENTICAL CASE/sqrt expression so both engines
    run the same double op chain; shared by q205 (rolling windows) and
    q227 (ACF lags)."""
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    cov = n * sxy - sx * sy
    return F.when((vx <= 0) | (vy <= 0), F.lit(None)).otherwise(
        cov / (F.sqrt(vx) * F.sqrt(vy))
    )
