"""Data-quality validation over warehouse tables — the Deequ-shaped
constraint layer a 100 TB lakehouse ingest needs between "files landed"
and "table is queryable": column profiles, declarative row-constraint
checks, key uniqueness, and referential (FK) integrity.

Everything is expressed as *one-pass conditional aggregation* so a full
rule suite costs exactly one scan of the table regardless of how many
rules it carries:

- ``validate(df, rules)`` compiles N row-level rules into N
  ``SUM(CASE WHEN NOT(rule) ...)`` expressions inside a single global
  aggregate (map-side partials → one 1-row reduce), then pivots the
  wide result to a long ``(rule, n_violations, passed)`` report via
  ``stack`` — a driver-free, shuffle-free transposition of one row.
  NULL handling: a rule that evaluates to NULL on a row counts as a
  violation (``NOT coalesce(rule, false)``), matching SQL's
  three-valued-logic trap rather than hiding it.
- ``profile(df, cols)`` computes per-column null counts, exact distinct
  counts, and min/max in the same single-aggregate style. Multiple
  exact COUNT(DISTINCT) in one aggregate plans as one Expand +
  two-phase agg — input ×|cols| rows on the wire but still one scan
  (measured 17.8 s at the 20× probe vs ~3 s for the rest of the DQ
  suite).
- ``orphan_rows(child, parent, fk, pk)`` counts child rows whose FK
  has no parent — a LEFT ANTI join that AQE broadcasts when the parent
  side is small and shuffles on the key otherwise; this is the one DQ
  check that inherently costs a join at scale.

Min/max surface as *decimal or date strings*, never raw doubles: the
report schema is uniform strings, and digit strings are the engine's
cross-engine-exact output convention (functions/compat.py).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.compat import dec2, month_day, portable_hash64, sql_portable_hash64
from ..functions.ranking import topn_ranked
from ..io import SCHEMAS, load_table
from ..functions.ckpt import checkpoint_df
from ..registry import register
from .analytics import _sql_twin


@dataclass(frozen=True)
class Rule:
    """A named row-level constraint: ``satisfied`` must be true (and
    non-NULL) on every row for the rule to pass."""

    name: str
    satisfied: Column


def violations(rule: Rule) -> Column:
    """Aggregate expression: number of rows violating ``rule``."""
    bad = ~F.coalesce(rule.satisfied, F.lit(False))
    return F.sum(bad.cast("bigint")).alias(rule.name)


def validate(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """One-scan rule suite → long report (rule, n_violations, passed)."""
    wide = df.agg(*[violations(r) for r in rules])
    pairs = ", ".join(f"'{r.name}', `{r.name}`" for r in rules)
    return (
        wide.select(
            F.expr(f"stack({len(rules)}, {pairs}) AS (rule, n_violations)")
        )
        .withColumn("passed", F.col("n_violations") == 0)
    )


def profile(df: DataFrame, cols: dict[str, Column]) -> DataFrame:
    """One-scan column profile → long (col_name, n_nulls, n_distinct,
    min_val, max_val). ``cols`` maps column name → a *typed comparable*
    view (decimal/date/string) — min/max compare in that type's order
    and only the final result renders to string, so numerics never
    suffer lexicographic min/max ("7" > "10")."""
    aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    for name, typed in cols.items():
        c = F.col(name)
        aggs += [
            F.sum(c.isNull().cast("bigint")).alias(f"{name}__nulls"),
            F.count_distinct(c).alias(f"{name}__distinct"),
            F.min(typed).cast("string").alias(f"{name}__min"),
            F.max(typed).cast("string").alias(f"{name}__max"),
        ]
    wide = df.agg(*aggs)
    rows = ", ".join(
        f"'{n}', `{n}__nulls`, `{n}__distinct`, `{n}__min`, `{n}__max`"
        for n in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {rows}) AS"
            " (col_name, n_nulls, n_distinct, min_val, max_val)"
        )
    )


def orphan_rows(child: DataFrame, parent: DataFrame, fk: str, pk: str) -> DataFrame:
    """Child rows with no matching parent key (NULL FKs are orphans of
    record-keeping, not referential integrity — excluded, as SQL's
    NOT EXISTS would)."""
    return child.filter(F.col(fk).isNotNull()).join(
        parent.select(F.col(pk).alias("__pk")),
        F.col(fk) == F.col("__pk"),
        "left_anti",
    )


# ---------------------------------------------------------------- queries


@register(
    "q116_dq_profile",
    oracle="""
WITH w AS (
  SELECT
    CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS q_nulls,
    COUNT(DISTINCT l_quantity) AS q_distinct,
    CAST(MIN(CAST(l_quantity AS DECIMAL(10,2))) AS VARCHAR) AS q_min,
    CAST(MAX(CAST(l_quantity AS DECIMAL(10,2))) AS VARCHAR) AS q_max,
    CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS d_nulls,
    COUNT(DISTINCT l_discount) AS d_distinct,
    CAST(MIN(CAST(l_discount AS DECIMAL(6,4))) AS VARCHAR) AS d_min,
    CAST(MAX(CAST(l_discount AS DECIMAL(6,4))) AS VARCHAR) AS d_max,
    CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS s_nulls,
    COUNT(DISTINCT l_shipdate) AS s_distinct,
    CAST(MIN(CAST(l_shipdate AS DATE)) AS VARCHAR) AS s_min,
    CAST(MAX(CAST(l_shipdate AS DATE)) AS VARCHAR) AS s_max,
    CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS r_nulls,
    COUNT(DISTINCT l_returnflag) AS r_distinct,
    MIN(l_returnflag) AS r_min,
    MAX(l_returnflag) AS r_max
  FROM lineitem
)
SELECT 'l_quantity' AS col_name, q_nulls AS n_nulls, q_distinct AS n_distinct,
       q_min AS min_val, q_max AS max_val FROM w
UNION ALL
SELECT 'l_discount', d_nulls, d_distinct, d_min, d_max FROM w
UNION ALL
SELECT 'l_shipdate', s_nulls, s_distinct, s_min, s_max FROM w
UNION ALL
SELECT 'l_returnflag', r_nulls, r_distinct, r_min, r_max FROM w
""",
    tags=("dq",),
)
def q116_dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan profile of four lineitem columns: nulls, exact distinct
    cardinality, min/max rendered as exact decimal/date strings. Plan:
    single Expand-backed multi-distinct aggregate — one table scan for
    the whole profile."""
    li = load_table(spark, sf_dir, "lineitem")
    return profile(
        li,
        {
            "l_quantity": F.col("l_quantity").cast("decimal(10,2)"),
            "l_discount": F.col("l_discount").cast("decimal(6,4)"),
            "l_shipdate": F.col("l_shipdate").cast("date"),
            "l_returnflag": F.col("l_returnflag"),
        },
    )


@register(
    "q117_dq_referential",
    oracle="""
SELECT 'lineitem.l_orderkey -> orders' AS fk, (
  SELECT COUNT(*) FROM lineitem l WHERE l.l_orderkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
) AS n_orphans
UNION ALL
SELECT 'lineitem.l_partkey -> part', (
  SELECT COUNT(*) FROM lineitem l WHERE l.l_partkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
)
UNION ALL
SELECT 'lineitem.l_suppkey -> supplier', (
  SELECT COUNT(*) FROM lineitem l WHERE l.l_suppkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
)
UNION ALL
SELECT 'orders.o_custkey -> customer', (
  SELECT COUNT(*) FROM orders o WHERE o.o_custkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
)
""",
    tags=("dq",),
)
def q117_dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FK integrity across the star schema: orphan-row counts for four
    foreign keys, each a LEFT ANTI join (dims broadcast; the
    orders/customer side is AQE's call). Four joins but each reads only
    its key column — column pruning keeps the scans narrow."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")

    def count_orphans(name: str, child, parent, fk, pk) -> DataFrame:
        return orphan_rows(child, parent, fk, pk).agg(
            F.lit(name).alias("fk"), F.count(F.lit(1)).alias("n_orphans")
        )

    return (
        count_orphans(
            "lineitem.l_orderkey -> orders", li, o, "l_orderkey", "o_orderkey"
        )
        .unionAll(
            count_orphans(
                "lineitem.l_partkey -> part",
                li,
                F.broadcast(load_table(spark, sf_dir, "part")),
                "l_partkey",
                "p_partkey",
            )
        )
        .unionAll(
            count_orphans(
                "lineitem.l_suppkey -> supplier",
                li,
                F.broadcast(load_table(spark, sf_dir, "supplier")),
                "l_suppkey",
                "s_suppkey",
            )
        )
        .unionAll(
            count_orphans(
                "orders.o_custkey -> customer",
                o,
                load_table(spark, sf_dir, "customer"),
                "o_custkey",
                "c_custkey",
            )
        )
    )


@register(
    "q118_dq_constraints",
    oracle="""
WITH w AS (
  SELECT
    CAST(SUM(CASE WHEN NOT COALESCE(l_quantity BETWEEN 1 AND 50, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS r1,
    CAST(SUM(CASE WHEN NOT COALESCE(l_discount BETWEEN 0 AND 1, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS r2,
    CAST(SUM(CASE WHEN NOT COALESCE(l_tax >= 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS r3,
    CAST(SUM(CASE WHEN NOT COALESCE(l_extendedprice > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS r4,
    CAST(SUM(CASE WHEN NOT COALESCE(l_returnflag IN ('A','N','R'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS r5,
    CAST(SUM(CASE WHEN NOT COALESCE(l_shipdate IS NOT NULL, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS r6,
    COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS r7
  FROM lineitem
)
SELECT 'quantity_in_1_50' AS rule, r1 AS n_violations, r1 = 0 AS passed FROM w
UNION ALL SELECT 'discount_in_0_1', r2, r2 = 0 FROM w
UNION ALL SELECT 'tax_non_negative', r3, r3 = 0 FROM w
UNION ALL SELECT 'extendedprice_positive', r4, r4 = 0 FROM w
UNION ALL SELECT 'returnflag_in_domain', r5, r5 = 0 FROM w
UNION ALL SELECT 'shipdate_not_null', r6, r6 = 0 FROM w
UNION ALL SELECT 'pk_orderkey_linenumber_unique', r7, r7 = 0 FROM w
""",
    tags=("dq",),
)
def q118_dq_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative constraint suite over lineitem — six row rules
    compiled into one conditional aggregate (the ``validate`` API) plus
    a composite-key uniqueness metric, reported in one long table. The
    whole suite costs one scan + one 1-row reduce."""
    li = load_table(spark, sf_dir, "lineitem")
    report = validate(
        li,
        [
            Rule("quantity_in_1_50", F.col("l_quantity").between(1, 50)),
            Rule("discount_in_0_1", F.col("l_discount").between(0, 1)),
            Rule("tax_non_negative", F.col("l_tax") >= 0),
            Rule("extendedprice_positive", F.col("l_extendedprice") > 0),
            Rule(
                "returnflag_in_domain",
                F.col("l_returnflag").isin("A", "N", "R"),
            ),
            Rule("shipdate_not_null", F.col("l_shipdate").isNotNull()),
        ],
    )
    uniq = li.agg(
        (
            F.count(F.lit(1))
            - F.count_distinct(F.col("l_orderkey"), F.col("l_linenumber"))
        ).alias("n_violations")
    ).select(
        F.lit("pk_orderkey_linenumber_unique").alias("rule"),
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )
    return report.unionAll(uniq)


@register(
    "q120_drift_psi",
    oracle="""
WITH binned AS (
  SELECT
    CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'ref' ELSE 'cur' END AS period,
    CAST(LEAST(GREATEST(FLOOR(value / 50.0), 0), 9) AS INTEGER) AS bucket
  FROM events WHERE value IS NOT NULL
),
counts AS (
  SELECT bucket,
    CAST(SUM(CASE WHEN period = 'ref' THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
    CAST(SUM(CASE WHEN period = 'cur' THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
  FROM binned GROUP BY bucket
),
tot AS (SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM counts)
SELECT
  round(SUM(
    (CAST(n_ref + 1 AS DOUBLE) / (t_ref + 10) - CAST(n_cur + 1 AS DOUBLE) / (t_cur + 10))
    * LN((CAST(n_ref + 1 AS DOUBLE) / (t_ref + 10)) / (CAST(n_cur + 1 AS DOUBLE) / (t_cur + 10)))
  ), 6) AS psi,
  CAST(MAX(t_ref) AS BIGINT) AS n_ref_rows,
  CAST(MAX(t_cur) AS BIGINT) AS n_cur_rows
FROM counts, tot
""",
    tags=("dq",),
)
def q120_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift between two halves of the
    events stream (reference = first 15 days, current = rest): fixed
    equal-width bins with +1 Laplace smoothing so empty buckets stay
    finite. One scan — period and bucket are row expressions, then a
    10-row aggregate and a scalar fold; at 100 TB this is the shape of
    a daily drift monitor over any metric column (bins fixed up front,
    never data-dependent — quantile-based bins would cost an extra
    pass and make runs incomparable)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    nbins, width = 10, 50.0
    binned = ev.select(
        F.when(
            F.col("ts") < F.lit("2024-01-16 00:00:00").cast("timestamp_ntz"), "ref"
        )
        .otherwise("cur")
        .alias("period"),
        F.least(
            F.greatest(F.floor(F.col("value") / width), F.lit(0)), F.lit(nbins - 1)
        )
        .cast("int")
        .alias("bucket"),
    )
    counts = binned.groupBy("bucket").agg(
        F.sum((F.col("period") == "ref").cast("bigint")).alias("n_ref"),
        F.sum((F.col("period") == "cur").cast("bigint")).alias("n_cur"),
    )
    tot = counts.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    j = counts.crossJoin(F.broadcast(tot))
    p = (F.col("n_ref") + 1).cast("double") / (F.col("t_ref") + nbins)
    q = (F.col("n_cur") + 1).cast("double") / (F.col("t_cur") + nbins)
    return j.agg(
        F.round(F.sum((p - q) * F.log(p / q)), 6).alias("psi"),
        F.max("t_ref").cast("bigint").alias("n_ref_rows"),
        F.max("t_cur").cast("bigint").alias("n_cur_rows"),
    )


def table_diff(
    a: DataFrame,
    b: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level reconciliation of two tables (migration / backfill /
    replica validation): full-outer join on ``keys`` with null-safe
    equality, each row labeled ``only_a`` / ``only_b`` / ``mismatch`` /
    ``equal``. ``compare_cols`` defaults to every shared non-key
    column. One shuffle per side on the key — the unavoidable cost of
    an exact diff; for a cheap continuous check pair this with the PSI
    monitor and rollup counts instead."""
    if compare_cols is None:
        shared = [c for c in a.columns if c in set(b.columns)]
        compare_cols = [c for c in shared if c not in set(keys)]
    # explicit presence markers: keys may legitimately be NULL (the
    # null-safe join pairs them), so absence must be detected by a
    # never-null sentinel, not by key nullability
    al = a.withColumn("__in_a", F.lit(1)).alias("a")
    bl = b.withColumn("__in_b", F.lit(1)).alias("b")
    cond = None
    for k in keys:
        eq = F.col(f"a.{k}").eqNullSafe(F.col(f"b.{k}"))
        cond = eq if cond is None else (cond & eq)
    in_a = F.col("a.__in_a").isNotNull()
    in_b = F.col("b.__in_b").isNotNull()
    all_equal = F.lit(True)
    for c in compare_cols:
        all_equal = all_equal & F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}"))
    status = (
        F.when(~in_b, F.lit("only_a"))
        .when(~in_a, F.lit("only_b"))
        .when(all_equal, F.lit("equal"))
        .otherwise(F.lit("mismatch"))
    )
    key_out = [
        F.coalesce(F.col(f"a.{k}"), F.col(f"b.{k}")).alias(k) for k in keys
    ]
    return al.join(bl, cond, "full_outer").select(*key_out, status.alias("status"))


@register(
    "q125_table_reconcile",
    oracle="""
WITH a AS (SELECT * FROM orders),
b AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 211 = 0 THEN o_totalprice + 1.0 ELSE o_totalprice END
           AS o_totalprice,
         o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 997 <> 0
),
d AS (
  SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS k,
    CASE WHEN b.o_orderkey IS NULL THEN 'only_a'
         WHEN a.o_orderkey IS NULL THEN 'only_b'
         WHEN a.o_custkey IS NOT DISTINCT FROM b.o_custkey
          AND a.o_orderstatus IS NOT DISTINCT FROM b.o_orderstatus
          AND a.o_totalprice IS NOT DISTINCT FROM b.o_totalprice
          AND a.o_orderdate IS NOT DISTINCT FROM b.o_orderdate
          AND a.o_orderpriority IS NOT DISTINCT FROM b.o_orderpriority
         THEN 'equal' ELSE 'mismatch' END AS status
  FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
)
SELECT status, COUNT(*) AS n_rows FROM d GROUP BY status
""",
    tags=("dq",),
)
def q125_table_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact diff between a table and a deterministically-perturbed
    copy (every 997th key dropped, every 211th price shifted): status
    counts must attribute each divergence class exactly — the
    backfill-validation primitive."""
    o = load_table(spark, sf_dir, "orders")
    b = o.filter(F.col("o_orderkey") % 997 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 211 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")),
    )
    return (
        table_diff(o, b, keys=["o_orderkey"])
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@register(
    "q143_value_histogram",
    oracle="""
WITH cents AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(10,2)) * 100 AS BIGINT) AS c
  FROM orders
), b AS (
  SELECT LEAST(GREATEST(c // 2500000, 0), 19) AS bucket FROM cents
)
SELECT CAST(bucket AS INT) AS bucket,
  CAST(bucket * 25000 AS BIGINT) AS lo_edge,
  CAST((bucket + 1) * 25000 AS BIGINT) AS hi_edge,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  round(CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM cents), 6) AS frac
FROM b
GROUP BY bucket
ORDER BY bucket
""",
    tags=("dq",),
)
def q143_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width value histogram (distribution profiling — the DQ
    sibling of q120's PSI drift): 20 fixed 25k-wide buckets over
    o_totalprice with a per-bucket row fraction.

    Bucketing is *integral*: money → exact cents (decimal→BIGINT) →
    integer division — never ``floor(x / width)`` on doubles, where a
    boundary value could land one ulp either side in different engines.
    Plan: map-side bucket expression + one ≤20-group hash agg; the
    global total rides in as a broadcast 1-row scalar, so the wire
    carries 20 cells at any scale."""
    o = load_table(spark, sf_dir, "orders")
    cents = (F.col("o_totalprice").cast("decimal(10,2)") * 100).cast("bigint")
    # Spark's `/` on bigints is fractional — floor-div keeps it integral
    bucket = F.least(
        F.greatest(F.floor(cents / F.lit(2500000)), F.lit(0)), F.lit(19)
    ).cast("int")
    binned = o.select(bucket.alias("bucket"))
    total = binned.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        binned.groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .join(F.broadcast(total))
        .select(
            "bucket",
            (F.col("bucket").cast("bigint") * 25000).alias("lo_edge"),
            ((F.col("bucket").cast("bigint") + 1) * 25000).alias("hi_edge"),
            "n_orders",
            F.round(F.col("n_orders").cast("double") / F.col("n_total"), 6).alias(
                "frac"
            ),
        )
        .orderBy("bucket")
    )


def observe_rules(df: DataFrame, rules: list[Rule], observation) -> DataFrame:
    """Attach the rule suite to ``df`` as observed metrics
    (``pyspark.sql.Observation``) so violation counts are collected
    DURING whatever job consumes the frame — the ingest write, an
    export, an aggregation — instead of by a second validation scan.
    At 100 TB the difference between ``validate`` (one extra full
    scan) and ``observe_rules`` (zero) is the whole DQ budget: the
    counters ride the already-running tasks as accumulator-style
    aggregates and cost nothing but a per-task add.

    ``observation`` is a ``pyspark.sql.Observation``; after any action
    on the returned frame, ``observation.get`` yields ``n_rows`` plus
    one violation count per rule. Trade-off vs ``validate``: observed
    metrics see the rows *flowing through this exact plan node* — rows
    a downstream filter drops are still counted (pre-filter), so attach
    the observation to the exact frame whose quality you mean to
    measure."""
    return df.observe(
        observation,
        F.count(F.lit(1)).alias("n_rows"),
        *[violations(r) for r in rules],
    )


@register(
    "q156_equidepth_histogram",
    oracle="""
WITH b AS (
  SELECT o_totalprice,
    ntile(20) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
  FROM orders
)
SELECT CAST(bucket AS INT) AS bucket,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(CAST(MIN(CAST(o_totalprice AS DECIMAL(10,2))) AS DECIMAL(38,2)) AS VARCHAR) AS lo,
  CAST(CAST(MAX(CAST(o_totalprice AS DECIMAL(10,2))) AS DECIMAL(38,2)) AS VARCHAR) AS hi
FROM b
GROUP BY bucket
ORDER BY bucket
""",
    tags=("dq",),
)
def q156_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth histogram (the CBO's preferred shape — equal row
    mass per bucket, data-driven edges) complementing q143's fixed
    equi-width bins: ntile(20) over a *fully deterministic* total
    order (value, unique key tiebreak — without the tiebreak, tied
    values straddle bucket boundaries engine-dependently), then
    per-bucket count + exact decimal-string bounds.

    The exact cut runs DISTRIBUTED (functions/ranking.global_ntile:
    quantile-bucketed global row_number + ntile's closed-form tile
    assignment) — no single-partition window at any table size, same
    integer tiles and hash as the window form."""
    o = load_table(spark, sf_dir, "orders")
    from ..functions.ranking import global_ntile

    b = global_ntile(
        o.select("o_totalprice", "o_orderkey"),
        F.col("o_totalprice"),
        [F.col("o_orderkey")],
        20,
    ).select("o_totalprice", "bucket")
    price = F.col("o_totalprice").cast("decimal(10,2)")
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.min(price).cast("decimal(38,2)").cast("string").alias("lo"),
            F.max(price).cast("decimal(38,2)").cast("string").alias("hi"),
        )
        .orderBy("bucket")
    )


@register(
    "q157_try_arithmetic",
    oracle="""
SELECT l_orderkey, l_linenumber,
  round(CAST(l_extendedprice AS DOUBLE)
        / NULLIF(CAST(l_quantity AS DOUBLE) - 25.0, 0.0), 6) AS price_per_excess,
  TRY_CAST(l_returnflag AS INT) AS flag_as_int
FROM lineitem
WHERE l_orderkey < 1000
""",
    tags=("scalar",),
)
def q157_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fault-tolerant expression semantics — the try_* family that
    keeps a 100 TB job from dying at hour nine on one bad row:
    ``try_divide`` yields NULL on division by zero (matching SQL's
    NULLIF idiom, not ANSI's error), ``try_cast`` yields NULL on
    unparseable input. The oracle expresses the identical semantics
    with NULLIF/TRY_CAST. Engine rule: hot paths prefer try_* +
    downstream null accounting over ANSI-strict failure; DQ rule
    suites (q118) then count the NULLs so bad rows are *visible*,
    never silently wrong. (Cross-engine caveat kept out of the
    contract: numeric-looking strings like '14.0' TRY_CAST to INT
    differently — DuckDB parses, ANSI Spark nulls — so the oracle
    only exercises the agreeing cases.)"""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.try_divide(
                F.col("l_extendedprice"), F.col("l_quantity") - F.lit(25.0)
            ),
            6,
        ).alias("price_per_excess"),
        F.col("l_returnflag").try_cast("int").alias("flag_as_int"),
    )


def _join_key_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key frequency frame for the prospective l_suppkey shuffle —
    the shared core of the two skew diagnostics (q161's quick
    share-of-table profile, q223's planner-grade percentile audit), so
    a key-handling fix lands in both at once."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


@register(
    "q161_key_skew_profile",
    oracle="""
WITH counts AS (
  SELECT l_suppkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY l_suppkey
), stats AS (
  SELECT CAST(SUM(cnt) AS DOUBLE) AS total, AVG(CAST(cnt AS DOUBLE)) AS avg_cnt
  FROM counts
)
SELECT key, cnt, share, skew_vs_avg, rk FROM (
  SELECT counts.key, counts.cnt,
    round(counts.cnt / stats.total, 6) AS share,
    round(counts.cnt / stats.avg_cnt, 6) AS skew_vs_avg,
    row_number() OVER (ORDER BY counts.cnt DESC, counts.key) AS rk
  FROM counts CROSS JOIN stats)
WHERE rk <= 20
""",
    tags=("dq", "ops"),
)
def q161_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profiler: the heaviest 20 values of a prospective
    shuffle key with each key's share of the table and its multiple of
    the mean — the diagnostic you run BEFORE a big join to decide
    whether it needs the q124 salting treatment or an AQE skew hint.

    Plan shape: one two-phase count on the key, a 1-row stats
    aggregate broadcast back, and TakeOrdered for the top-20 — the
    whole profile costs one shuffle of (key, partial count) pairs
    regardless of table size; no global window over the key set.
    """
    counts = _join_key_counts(spark, sf_dir)
    stats = counts.agg(
        F.sum("cnt").cast("double").alias("total"),
        F.avg(F.col("cnt").cast("double")).alias("avg_cnt"),
    )
    top = topn_ranked(
        counts.crossJoin(F.broadcast(stats)),
        [F.col("cnt").desc(), F.col("key")],
        20,
    )
    return top.select(
        "key",
        "cnt",
        F.round(F.col("cnt") / F.col("total"), 6).alias("share"),
        F.round(F.col("cnt") / F.col("avg_cnt"), 6).alias("skew_vs_avg"),
        F.col("rk").cast("bigint").alias("rk"),
    )


@register(
    "q181_k_anonymity",
    oracle="""
WITH q AS (
  SELECT lang, source,
    CAST(n_chars // 50 AS BIGINT) AS chars_bucket
  FROM documents),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM q)
SELECT lang, source, chars_bucket,
  CAST(COUNT(*) AS BIGINT) AS n_rows,
  (COUNT(*) >= 3) AS k_anonymous,
  round(CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(t.n), 6) AS share
FROM q CROSS JOIN tot t
GROUP BY lang, source, chars_bucket
""",
    tags=("dq", "privacy"),
)
def q181_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (privacy DQ): every combination of
    quasi-identifiers — here (lang, source, coarse length bucket) —
    must describe at least k=3 rows, or those rows are re-identifiable
    by the combination alone and need suppression/generalization
    before release. One row per equivalence class with its size, the
    k test, and corpus share (the suppression cost if dropped).

    Plan shape: one two-phase hash agg on the quasi-identifier key
    (the class count IS the output — never materialize class member
    lists) plus a 1-row broadcast total. Generalization ladders
    (coarser buckets) re-run the same agg on a coarser key.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "lang",
        "source",
        F.floor(F.col("n_chars") / 50).cast("bigint").alias("chars_bucket"),
    )
    tot = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        d.crossJoin(F.broadcast(tot))
        .groupBy("lang", "source", "chars_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            (F.count(F.lit(1)) >= 3).alias("k_anonymous"),
            F.round(
                F.count(F.lit(1)).cast("double") / F.any_value("n"), 6
            ).alias("share"),
        )
    )


@register(
    "q182_row_provenance",
    oracle=None,
    tags=("dq", "lineage"),
)
def q182_row_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level provenance via Spark's hidden ``_metadata`` struct on
    file sources: every row knows the physical file it came from (plus
    size/modification time — not emitted here, they are
    environment-dependent). Aggregated to a per-file audit: row count
    and id range — the lineage record a backfill investigation starts
    from ("which file contributed these rows?").

    Rows-only check: the oracle CANNOT express this — file provenance
    is exactly the thing SQL-on-logical-tables abstracts away (DuckDB's
    filename=true equivalent returns ITS paths, not Spark's view of
    them at any split). pytest asserts counts reconcile with the table
    and the file name matches the fixture layout. Plan: _metadata is a
    per-row map-side struct, the rollup is one hash agg on file_name —
    at a 100 TB/50k-file table the output is file-count-sized, the
    natural granularity for manifest reconciliation (versioning's
    files_df consumes the same shape).
    """
    d = spark.read.schema(SCHEMAS["documents"]).parquet(
        f"{sf_dir}/documents.parquet"
    )
    return (
        d.select(F.col("_metadata.file_name").alias("file_name"), "doc_id")
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


@register(
    "q189_ks_statistic",
    oracle="""
WITH v AS (
  SELECT source,
    round((CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')))
          * (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / len(string_split(text, ' '))), 6) AS val
  FROM documents WHERE source IN ('src0', 'src1')),
n AS (
  SELECT CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM v),
per_val AS (
  SELECT val,
    SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS a_cnt,
    SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS b_cnt
  FROM v GROUP BY val),
ecdf AS (
  SELECT val,
    SUM(a_cnt) OVER (ORDER BY val) AS cum_a,
    SUM(b_cnt) OVER (ORDER BY val) AS cum_b
  FROM per_val)
SELECT n.n_a, n.n_b,
  round(MAX(abs(CAST(cum_a AS DOUBLE) / n.n_a
                - CAST(cum_b AS DOUBLE) / n.n_b)), 6) AS ks_d,
  round(1.358 * sqrt(CAST(n.n_a + n.n_b AS DOUBLE) / (n.n_a * n.n_b)), 6)
    AS crit_05,
  (round(MAX(abs(CAST(cum_a AS DOUBLE) / n.n_a
               - CAST(cum_b AS DOUBLE) / n.n_b)), 6)
   > round(1.358 * sqrt(CAST(n.n_a + n.n_b AS DOUBLE) / (n.n_a * n.n_b)), 6))
    AS reject_h0
FROM ecdf CROSS JOIN n
GROUP BY n.n_a, n.n_b
""",
    tags=("dq", "drift"),
)
def q189_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test between the quality-score
    distributions of two sources — the distribution-free drift test
    that catches what q120's binned PSI can blur: D = max |ECDF_a -
    ECDF_b| over all observed values, with the α=0.05 critical value
    (1.358·√((n_a+n_b)/(n_a·n_b))) and the reject decision. Run it
    source-vs-source before mixing crawls, or release-vs-release as a
    stronger drift alarm.

    Plan shape: per-distinct-value counts are a two-phase hash agg;
    the exact ECDF runs through bucketed prefix sums
    (functions/ranking.partitioned_prefix_sums: histogram buckets +
    literal offsets + PARTITIONED cumulative windows — no
    single-partition stage at any cardinality). The reject flag
    compares ROUNDED values on both engines (no ulp coin-flips).
    """
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1")
    )
    tokens = F.split("text", " ")
    val = F.round(
        (F.length("text").cast("double") / F.size(tokens))
        * (F.size(F.array_distinct(tokens)).cast("double") / F.size(tokens)),
        6,
    )
    v = d.select("source", val.alias("val"))
    n = v.agg(
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("source") == "src1", 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
    )
    per_val = v.groupBy("val").agg(
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0)).alias("a_cnt"),
        F.sum(F.when(F.col("source") == "src1", 1).otherwise(0)).alias("b_cnt"),
    )
    from ..functions.ranking import partitioned_prefix_sums

    ecdf = partitioned_prefix_sums(
        per_val, F.col("val"), ["a_cnt", "b_cnt"]
    ).select(
        F.col("cum_a_cnt").alias("cum_a"), F.col("cum_b_cnt").alias("cum_b")
    )
    d_stat = ecdf.crossJoin(F.broadcast(n)).agg(
        F.any_value("n_a").alias("n_a"),
        F.any_value("n_b").alias("n_b"),
        F.round(
            F.max(
                F.abs(
                    F.col("cum_a").cast("double") / F.col("n_a")
                    - F.col("cum_b").cast("double") / F.col("n_b")
                )
            ),
            6,
        ).alias("ks_d"),
    )
    crit = F.round(
        1.358
        * F.sqrt(
            (F.col("n_a") + F.col("n_b")).cast("double")
            / (F.col("n_a") * F.col("n_b"))
        ),
        6,
    )
    return d_stat.select(
        "n_a",
        "n_b",
        "ks_d",
        crit.alias("crit_05"),
        (F.col("ks_d") > crit).alias("reject_h0"),
    )


# Benford first-digit expectations log10(1 + 1/d), frozen to 6 decimals
# ONCE here (Python math) and inlined as literals in BOTH the Spark
# query and the DuckDB oracle — no engine libm in the comparison path.
_BENFORD = {d: round(math.log10(1 + 1 / d), 6) for d in range(1, 10)}
_BENFORD_SQL_CASE = (
    "CASE digit "
    + " ".join(f"WHEN '{d}' THEN {p}" for d, p in _BENFORD.items())
    + " END"
)


@register(
    "q203_benford_deviation",
    oracle=f"""
WITH digits AS (
  SELECT substring(regexp_replace(
           CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR),
           '[^1-9]', '', 'g'), 1, 1) AS digit
  FROM lineitem
), counts AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY digit
), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts)
SELECT digit, n,
  round(CAST(n AS DOUBLE) / total, 6) AS obs_share,
  {_BENFORD_SQL_CASE} AS benford_share,
  round(abs(round(CAST(n AS DOUBLE) / total, 6)
            - {_BENFORD_SQL_CASE}), 6) AS abs_dev
FROM counts, tot
""",
    tags=("dq", "benford"),
)
def q203_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit of a money column: the
    observed share of each leading digit vs Benford's law — the classic
    fabricated-data / unit-mixup tripwire for financial columns (a
    synthetic uniform price book deviates hard on digit 1; real
    multiplicative processes don't). First digit extracted from the
    exact DECIMAL(12,2) digit string (cross-engine byte-identical per
    the compat rules), never from float log10 — no libm, no exponent
    rendering, no boundary risk; expected shares are frozen literals.

    Scale shape: map-side digit extraction → 9-group two-phase hash
    agg → a 1-row total broadcast back over the 9-row frame (the
    accepted 1-row-stat BNL pattern, PLANS.md) — one scan, O(1) state
    regardless of table size."""
    li = load_table(spark, sf_dir, "lineitem")
    digit = F.substring(
        F.regexp_replace(
            F.col("l_extendedprice").cast("decimal(12,2)").cast("string"),
            "[^1-9]",
            "",
        ),
        1,
        1,
    ).alias("digit")
    counts = li.select(digit).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = counts.agg(F.sum("n").alias("total"))
    expected = F.coalesce(
        *[
            F.when(F.col("digit") == str(d), F.lit(p))
            for d, p in _BENFORD.items()
        ]
    )
    obs = F.round(F.col("n").cast("double") / F.col("total"), 6)
    return counts.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        obs.alias("obs_share"),
        expected.alias("benford_share"),
        F.round(F.abs(obs - expected), 6).alias("abs_dev"),
    )


@register(
    "q204_chi2_independence",
    oracle="""
WITH c AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY lang, source
), rt AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS r FROM c GROUP BY lang),
ct AS (SELECT source, CAST(SUM(n) AS BIGINT) AS cl FROM c GROUP BY source),
tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS t,
         CAST(COUNT(DISTINCT lang) AS BIGINT) AS nl,
         CAST(COUNT(DISTINCT source) AS BIGINT) AS ns
  FROM c
), cells AS (
  -- FULL marginal grid: a (lang, source) combination with zero
  -- observed docs still contributes (0-e)^2/e = e to chi2
  SELECT COALESCE(c.n, 0) AS n, CAST(r AS DOUBLE) * cl / t AS e
  FROM rt CROSS JOIN ct
  LEFT JOIN c USING (lang, source), tot
), agg AS (
  SELECT round(SUM((n - e) * (n - e) / e), 4) AS chi2 FROM cells
)
SELECT chi2,
  (nl - 1) * (ns - 1) AS dof,
  CASE WHEN least(nl - 1, ns - 1) <= 0 THEN NULL
       ELSE round(sqrt(chi2 / (t * least(nl - 1, ns - 1))), 6)
  END AS cramers_v
FROM agg, tot
WHERE t IS NOT NULL
""",
    tags=("dq", "independence"),
)
def q204_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence audit of the lang × source contingency
    table, reported with Cramér's V effect size — "is the corpus's
    language mix independent of where it was scraped", the bias check
    a mixture-balancing pass (q106) should run first. V near 0 means
    sources are interchangeable; V near 1 means language is determined
    by source and per-source rebalancing is load-bearing.

    Scale shape: two-phase hash agg to the |langs|×|sources| grid, then
    ALL remaining math on that kilobyte-sized frame (marginals via two
    tiny aggs broadcast back, 1-row total — the accepted 1-row-stat
    pattern). Expected counts are identical double expressions from
    exact BIGINT marginals in both engines; the ≤|cells| contribution
    sum rounds to 4, and Cramér's V derives from the ROUNDED chi2 so
    both outputs share one rounding boundary."""
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    rt = c.groupBy("lang").agg(F.sum("n").alias("r"))
    ct = c.groupBy("source").agg(F.sum("n").alias("cl"))
    tot = c.agg(
        F.sum("n").alias("t"),
        F.count_distinct("lang").alias("nl"),
        F.count_distinct("source").alias("ns"),
    )
    # FULL marginal grid (rt × ct, both tiny) left-joined to observed
    # counts: a zero-observed combination still contributes
    # (0-e)^2/e = e to chi2.
    cells = (
        rt.crossJoin(F.broadcast(ct))
        .join(F.broadcast(c), ["lang", "source"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            (F.col("r").cast("double") * F.col("cl") / F.col("t")).alias("e"),
            "t",
            "nl",
            "ns",
        )
    )
    contrib = (F.col("n") - F.col("e")) * (F.col("n") - F.col("e")) / F.col("e")
    agg = cells.groupBy("t", "nl", "ns").agg(
        F.round(F.sum(contrib), 4).alias("chi2")
    )
    # degenerate guard: a one-language (or one-source) corpus has
    # dof 0 — Cramér's V is undefined (NULL), never Infinity. On an
    # empty corpus groupBy yields zero groups on both sides (the
    # oracle filters its always-one agg row on t IS NOT NULL).
    mindim = F.least(F.col("nl") - 1, F.col("ns") - 1)
    return agg.select(
        "chi2",
        ((F.col("nl") - 1) * (F.col("ns") - 1)).alias("dof"),
        F.when(mindim <= 0, F.lit(None))
        .otherwise(
            F.round(F.sqrt(F.col("chi2") / (F.col("t") * mindim)), 6)
        )
        .alias("cramers_v"),
    )


@register(
    "q215_mad_outliers",
    oracle="""
WITH base AS (
  SELECT o_orderpriority AS priority,
    CAST(CAST(o_totalprice AS DECIMAL(8,2)) * 100 AS BIGINT) AS cents
  FROM orders
), med AS (
  SELECT priority, quantile_cont(CAST(cents AS DOUBLE), 0.5) AS med
  FROM base GROUP BY 1
), dev AS (
  SELECT b.priority, b.cents, m.med,
    abs(CAST(b.cents AS DOUBLE) - m.med) AS absdev
  FROM base b JOIN med m USING (priority)
), mad AS (
  SELECT priority, quantile_cont(absdev, 0.5) AS mad FROM dev GROUP BY 1
)
SELECT d.priority,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  round(MAX(d.med), 6) AS median_cents,
  round(MAX(m.mad), 6) AS mad_cents,
  CAST(SUM(CASE WHEN m.mad > 0 AND d.absdev > 4.4478 * m.mad
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
  round(SUM(CASE WHEN m.mad > 0 AND d.absdev > 4.4478 * m.mad
                 THEN 1.0 ELSE 0.0 END) / COUNT(*), 6) AS outlier_rate
FROM dev d JOIN mad m USING (priority)
GROUP BY d.priority
""",
    tags=("dq", "stats"),
)
def q215_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier audit per order priority: median / MAD (median
    absolute deviation) and the count of orders beyond 3 robust sigmas
    (3 × 1.4826 × MAD = 4.4478·MAD — the consistency constant for
    normal data). Mean/stddev outlier fences break the moment the
    outliers they hunt pollute the moments; median/MAD don't — this is
    the Deequ-style anomaly rule you actually want on money columns.

    Scale shape: three passes over orders (median agg → deviation agg →
    flag agg), each a two-phase hash agg over 5 priority groups with
    the 5-row stats frames broadcast back. Exact percentile is safe
    here even at 100 TB: Spark's Percentile agg buffers value→count
    pairs, bounded by the DISTINCT CENTS domain (< 10^8), not by row
    count — for unbounded-domain columns swap approx_percentile in.
    The 4.4478 multiplier is written as ONE literal in both engines so
    the boundary product is bit-identical; ties on the fence line
    resolve the same way everywhere."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("priority"),
        (dec2("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    med = base.groupBy("priority").agg(
        F.percentile(F.col("cents").cast("double"), F.lit(0.5)).alias("med")
    )
    dev = base.join(F.broadcast(med), "priority").withColumn(
        "absdev", F.abs(F.col("cents").cast("double") - F.col("med"))
    )
    mad = dev.groupBy("priority").agg(
        F.percentile(F.col("absdev"), F.lit(0.5)).alias("mad")
    )
    flagged = dev.join(F.broadcast(mad), "priority")
    is_out = (F.col("mad") > 0) & (
        F.col("absdev") > F.lit(4.4478) * F.col("mad")
    )
    return flagged.groupBy("priority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.max("med"), 6).alias("median_cents"),
        F.round(F.max("mad"), 6).alias("mad_cents"),
        F.sum(F.when(is_out, 1).otherwise(0)).cast("bigint").alias(
            "n_outliers"
        ),
        F.round(
            F.sum(F.when(is_out, 1.0).otherwise(0.0)) / F.count(F.lit(1)), 6
        ).alias("outlier_rate"),
    )


# Poisson(1) inverse-CDF thresholds (cumulative pmf), shared verbatim
# by the Spark expression and the DuckDB oracle: the multinomial
# bootstrap's per-(row, replica) weight ~ Poisson(1) approximation,
# exact to the printed digits in both engines.
_POISSON1_CDF = (
    0.3678794411714423,
    0.7357588823428846,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
)
_BOOT_B = 200


def _sql_poisson_weight(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {c!r} THEN {k}" for k, c in enumerate(_POISSON1_CDF)
    )
    return f"CASE {cases} ELSE {len(_POISSON1_CDF)} END"


@register(
    "q222_bootstrap_ci",
    oracle=f"""
WITH reps AS (
  SELECT d.doc_id, d.n_chars, t.rep,
    {sql_portable_hash64(
        "CAST(d.doc_id AS VARCHAR) || ':' || CAST(t.rep AS VARCHAR)"
    )} / 1152921504606846976.0 AS u
  FROM documents d CROSS JOIN generate_series(0, {_BOOT_B - 1}) t(rep)
), weighted AS (
  SELECT rep,
    CAST(SUM({_sql_poisson_weight('u')}) AS BIGINT) AS sw,
    CAST(SUM({_sql_poisson_weight('u')} * n_chars) AS BIGINT) AS swx
  FROM reps GROUP BY rep
), means AS (
  SELECT CAST(swx AS DOUBLE) / sw AS m FROM weighted WHERE sw > 0
), pt AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(n_chars) AS BIGINT) AS sx
  FROM documents
)
SELECT pt.n_docs,
  round(CAST(pt.sx AS DOUBLE) / pt.n_docs, 6) AS mean_n_chars,
  CAST(COUNT(m.m) AS BIGINT) AS n_replicas,
  round(CAST(SUM(CAST(round(m.m * 1000000.0) AS BIGINT)) AS DOUBLE)
        / (1000000.0 * COUNT(m.m)), 6) AS boot_mean,
  round(quantile_cont(m.m, 0.025), 6) AS ci_low,
  round(quantile_cont(m.m, 0.975), 6) AS ci_high
FROM pt LEFT JOIN means m ON TRUE
GROUP BY pt.n_docs, pt.sx
""",
    tags=("dq", "stats"),
)
def q222_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap 95% confidence interval for the corpus mean doc length
    — the resampling machinery every data-quality dashboard needs to
    say "±how much" without distributional assumptions, built to run
    distributed and REPRODUCIBLY: each of the 200 resamples weights
    every row by a Poisson(1) draw derived from the portable md5 hash
    of (doc_id, replica), the standard multinomial-bootstrap
    approximation — no shuffling of data into samples, no RNG state,
    identical on any cluster shape and in the DuckDB oracle.

    Scale shape: one map-side explode ×B (row count ×200 but zero
    bytes of state), a two-phase agg to B replica rows whose sums are
    EXACT BIGINTs (weight·n_chars — per-replica means are one IEEE
    division, order-independent), then exact percentiles over the
    200-value frame. boot_mean is averaged as an integer-micros SUM
    (order-independent) rather than an IEEE running mean, so the
    "identical on any cluster shape" claim is structural — a double
    AVG over a shuffled 200-row frame could flip its last ulp with
    partition layout. 100 TB cost = B × one scan's worth of agg work,
    all map-side combined."""
    d = load_table(spark, sf_dir, "documents")
    reps = d.select(
        "doc_id",
        "n_chars",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("rep"),
    )
    u = portable_hash64(
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit(":"),
            F.col("rep").cast("string"),
        )
    ) / F.lit(float(2**60))
    w = F.lit(len(_POISSON1_CDF))
    for k in range(len(_POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < _POISSON1_CDF[k], k).otherwise(w)
    weighted = reps.groupBy("rep").agg(
        F.sum(w).cast("bigint").alias("sw"),
        F.sum(w * F.col("n_chars")).cast("bigint").alias("swx"),
    )
    means = weighted.filter(F.col("sw") > 0).select(
        (F.col("swx").cast("double") / F.col("sw")).alias("m")
    )
    pt = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sx"),
    )
    stats = means.agg(
        F.count(F.lit(1)).alias("n_replicas"),
        F.sum(F.round(F.col("m") * F.lit(1000000.0), 0).cast("bigint")).alias(
            "sum_m_micros"
        ),
        F.percentile(F.col("m"), F.lit(0.025)).alias("ci_low"),
        F.percentile(F.col("m"), F.lit(0.975)).alias("ci_high"),
    )
    return stats.crossJoin(F.broadcast(pt)).select(
        "n_docs",
        F.round(F.col("sx").cast("double") / F.col("n_docs"), 6).alias(
            "mean_n_chars"
        ),
        F.col("n_replicas").cast("bigint").alias("n_replicas"),
        F.round(
            F.col("sum_m_micros").cast("double")
            / (F.lit(1000000.0) * F.col("n_replicas")),
            6,
        ).alias("boot_mean"),
        F.round("ci_low", 6).alias("ci_low"),
        F.round("ci_high", 6).alias("ci_high"),
    )


@register(
    "q223_join_skew_audit",
    oracle="""
WITH cnts AS (
  SELECT l_suppkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
    CAST(SUM(cnt) AS BIGINT) AS total_rows,
    CAST(MAX(cnt) AS BIGINT) AS max_cnt,
    round(quantile_cont(CAST(cnt AS DOUBLE), 0.5), 6) AS p50_cnt,
    round(quantile_cont(CAST(cnt AS DOUBLE), 0.99), 6) AS p99_cnt
  FROM cnts
)
SELECT t.rk, t.key, t.cnt,
  round(CAST(t.cnt AS DOUBLE) / s.total_rows, 6) AS row_share,
  s.n_keys, s.total_rows, s.max_cnt, s.p50_cnt, s.p99_cnt,
  round(CAST(s.max_cnt AS DOUBLE) * s.n_keys / s.total_rows, 6)
    AS skew_ratio
FROM (
  SELECT key, cnt, row_number() OVER (ORDER BY cnt DESC, key) AS rk
  FROM cnts
) t, stats s
WHERE t.rk <= 10
""",
    tags=("dq", "ops"),
)
def q223_join_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit: the per-key frequency profile a planner (or
    an engineer) reads BEFORE shuffling 100 TB on a key — top-10 hot
    keys with their row share, plus key count, max/p50/p99 frequency
    and the skew ratio (max ÷ mean). skew_ratio ≈ 1 → hash-partition
    freely; ≫ 1 → salt the hot keys (joins.salted_hot_join) or rely on
    AQE skew splitting, and THIS report names exactly which keys.
    Deepens q161's quick share profile (same ``_join_key_counts``
    core) with the percentile columns a planner thresholds on.

    Scale shape: one two-phase count per key (wire = |keys|, not
    rows), exact percentiles bounded by the count domain, TakeOrdered
    top-10 + windowless rank; the 1-row stats frame broadcasts onto
    the 10 survivors. Every output is exact-integer arithmetic or a
    single rounded division."""
    cnts = _join_key_counts(spark, sf_dir)
    stats = cnts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("total_rows"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
        F.round(F.percentile(F.col("cnt").cast("double"), F.lit(0.5)), 6).alias(
            "p50_cnt"
        ),
        F.round(
            F.percentile(F.col("cnt").cast("double"), F.lit(0.99)), 6
        ).alias("p99_cnt"),
    )
    top = topn_ranked(cnts, [F.col("cnt").desc(), F.col("key")], 10)
    return top.crossJoin(F.broadcast(stats)).select(
        F.col("rk").cast("bigint").alias("rk"),
        "key",
        "cnt",
        F.round(F.col("cnt").cast("double") / F.col("total_rows"), 6).alias(
            "row_share"
        ),
        "n_keys",
        "total_rows",
        "max_cnt",
        "p50_cnt",
        "p99_cnt",
        F.round(
            F.col("max_cnt").cast("double")
            * F.col("n_keys")
            / F.col("total_rows"),
            6,
        ).alias("skew_ratio"),
    )


@register(
    "q233_mutual_information",
    oracle="""
WITH joint AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS nxy
  FROM documents GROUP BY 1, 2
), mx AS (SELECT source, CAST(SUM(nxy) AS BIGINT) AS nx FROM joint GROUP BY 1),
my AS (SELECT lang, CAST(SUM(nxy) AS BIGINT) AS ny FROM joint GROUP BY 1),
tot AS (SELECT CAST(SUM(nxy) AS BIGINT) AS n FROM joint),
mi AS (
  SELECT SUM((CAST(j.nxy AS DOUBLE) / t.n)
             * log2((CAST(j.nxy AS DOUBLE) * t.n)
                    / (CAST(x.nx AS DOUBLE) * y.ny))) AS mi_bits
  FROM joint j JOIN mx x USING (source) JOIN my y USING (lang)
  CROSS JOIN tot t
), hx AS (
  SELECT -SUM((CAST(nx AS DOUBLE) / t.n)
              * log2(CAST(nx AS DOUBLE) / t.n)) AS h_source
  FROM mx CROSS JOIN tot t
), hy AS (
  SELECT -SUM((CAST(ny AS DOUBLE) / t.n)
              * log2(CAST(ny AS DOUBLE) / t.n)) AS h_lang
  FROM my CROSS JOIN tot t
)
SELECT t.n AS n_docs,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM mx) AS n_sources,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM my) AS n_langs,
  round(mi.mi_bits, 6) AS mi_bits,
  round(hx.h_source, 6) AS h_source_bits,
  round(hy.h_lang, 6) AS h_lang_bits,
  CASE WHEN least(hx.h_source, hy.h_lang) <= 0 THEN NULL
       ELSE round(mi.mi_bits / least(hx.h_source, hy.h_lang), 6)
  END AS nmi
FROM tot t CROSS JOIN mi CROSS JOIN hx CROSS JOIN hy
""",
    tags=("dq", "stats", "llm"),
)
def q233_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between two categorical corpus columns
    (source × lang), in bits, plus both marginal entropies and the
    normalized MI (MI / min(H)) — the effect-SIZE companion to q204's
    chi-square significance test: χ² says "the columns are dependent",
    MI says "knowing the source buys you this many bits of the
    language". NMI = 1 ⇒ one column determines the other (a leakage
    smell in train/test splits keyed on either).

    Scale shape: the corpus collapses to the |sources|×|langs| joint
    grid in one two-phase count agg — the ONLY fact-table pass;
    marginals, entropies, and the MI fold are sums over that ≤200-cell
    grid (domain-fixed, SF-independent), assembled via 1-row broadcast
    cross joins. Zero-observed cells contribute nothing by
    construction (absent grid rows, the 0·log0 = 0 convention).
    Overflow guard: nxy·n crosses through DOUBLE before multiplying
    (bigint·bigint would overflow at corpus scale)."""
    d = load_table(spark, sf_dir, "documents").select("source", "lang")
    joint = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("nxy")
    )
    mx = joint.groupBy("source").agg(F.sum("nxy").cast("bigint").alias("nx"))
    my = joint.groupBy("lang").agg(F.sum("nxy").cast("bigint").alias("ny"))
    tot = joint.agg(F.sum("nxy").cast("bigint").alias("n"))
    nxy_d = F.col("nxy").cast("double")
    mi = (
        joint.join(F.broadcast(mx), "source")
        .join(F.broadcast(my), "lang")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                (nxy_d / F.col("n"))
                * F.log2(
                    (nxy_d * F.col("n"))
                    / (F.col("nx").cast("double") * F.col("ny"))
                )
            ).alias("mi_bits")
        )
    )
    px = F.col("nx").cast("double") / F.col("n")
    hx = mx.crossJoin(F.broadcast(tot)).agg(
        (-F.sum(px * F.log2(px))).alias("h_source")
    )
    py = F.col("ny").cast("double") / F.col("n")
    hy = my.crossJoin(F.broadcast(tot)).agg(
        (-F.sum(py * F.log2(py))).alias("h_lang")
    )
    counts = mx.agg(F.count(F.lit(1)).cast("bigint").alias("n_sources"))
    countl = my.agg(F.count(F.lit(1)).cast("bigint").alias("n_langs"))
    hmin = F.least(F.col("h_source"), F.col("h_lang"))
    return (
        tot.crossJoin(F.broadcast(counts))
        .crossJoin(F.broadcast(countl))
        .crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select(
            F.col("n").alias("n_docs"),
            "n_sources",
            "n_langs",
            F.round("mi_bits", 6).alias("mi_bits"),
            F.round("h_source", 6).alias("h_source_bits"),
            F.round("h_lang", 6).alias("h_lang_bits"),
            F.when(hmin <= 0, F.lit(None).cast("double"))
            .otherwise(F.round(F.col("mi_bits") / hmin, 6))
            .alias("nmi"),
        )
    )


@register(
    "q250_source_ks_drift",
    oracle="""
WITH d AS (
  SELECT source, len(string_split(text, ' ')) AS w FROM documents
), sc AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cnt FROM d GROUP BY 1, 2
), lens AS (
  SELECT w, CAST(SUM(cnt) AS BIGINT) AS ccnt FROM sc GROUP BY w
), srcs AS (
  SELECT source, CAST(SUM(cnt) AS BIGINT) AS n FROM sc GROUP BY source
), tot AS (
  SELECT CAST(SUM(ccnt) AS BIGINT) AS m FROM lens
), grid AS (
  SELECT s.source, l.w, COALESCE(sc.cnt, 0) AS cnt, l.ccnt
  FROM srcs s CROSS JOIN lens l
  LEFT JOIN sc ON sc.source = s.source AND sc.w = l.w
), ecdf AS (
  SELECT source, w,
    abs(CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY w) AS DOUBLE)
          / ANY_VALUE(n) OVER (PARTITION BY source)
        - CAST(SUM(ccnt) OVER (PARTITION BY source ORDER BY w) AS DOUBLE)
          / ANY_VALUE(m) OVER (PARTITION BY source)) AS gap
  FROM grid CROSS JOIN tot JOIN srcs USING (source)
), ks AS (
  SELECT source, MAX(gap) AS ks_raw FROM ecdf GROUP BY source
)
SELECT k.source, s.n AS n_docs,
  round(k.ks_raw, 6) AS ks_stat,
  CAST(MIN(e.w) AS BIGINT) AS ks_at_tokens,
  k.ks_raw > 1.36 * sqrt((s.n + t.m)
                         / (CAST(s.n AS DOUBLE) * t.m)) AS drift_flag
FROM ks k
JOIN srcs s USING (source)
JOIN ecdf e ON e.source = k.source AND e.gap = k.ks_raw
CROSS JOIN tot t
GROUP BY k.source, s.n, k.ks_raw, t.m
""",
    tags=("dq", "llm", "stats", "drift"),
)
def q250_source_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov drift test of each source's
    token-length distribution against the whole corpus: the sup-norm
    ECDF gap, the length where it peaks, and a flag against the 95%
    KS critical value 1.36·√((n+m)/(n·m)). The distribution-level
    companion to q225's binned JSD — KS is bin-free and localizes
    WHERE the distributions diverge (ks_at_tokens), which is the first
    question when a re-crawled source suddenly skews short.

    Plan shape: the corpus collapses ONCE to the (source, length)
    count grid; everything after runs at grid grain — the full
    sources×lengths frame (length domain is physically bounded by max
    doc size, not corpus count), source-PARTITIONED cumulative windows
    for both ECDFs (the corpus ECDF rides the same window because
    every source's grid carries all corpus lengths — no global window
    anywhere), and a per-source max. The sup is provably attained on
    the evaluation grid: both ECDFs only jump at observed lengths.
    All gaps are differences of exact int/int ratios — identical op
    chain both engines, so the argmax equality join and the critical-
    value comparison are drift-free; only the displayed statistic
    rounds."""
    d = load_table(spark, sf_dir, "documents").select(
        "source", F.size(F.split("text", " ")).alias("w")
    )
    sc = d.groupBy("source", "w").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    lens = sc.groupBy("w").agg(F.sum("cnt").cast("bigint").alias("ccnt"))
    srcs = sc.groupBy("source").agg(F.sum("cnt").cast("bigint").alias("n"))
    tot = lens.agg(F.sum("ccnt").cast("bigint").alias("m"))
    grid = (
        srcs.crossJoin(F.broadcast(lens))
        .join(sc, ["source", "w"], "left")
        .select(
            "source",
            "w",
            "n",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
            "ccnt",
        )
        .crossJoin(F.broadcast(tot))
    )
    win = Window.partitionBy("source").orderBy("w")
    gap = F.abs(
        F.sum("cnt").over(win).cast("double") / F.col("n")
        - F.sum("ccnt").over(win).cast("double") / F.col("m")
    )
    ecdf = grid.select("source", "w", "n", "m", gap.alias("gap"))
    ks = ecdf.groupBy("source").agg(F.max("gap").alias("ks_raw"))
    crit = F.lit(1.36) * F.sqrt(
        (F.col("n") + F.col("m")) / (F.col("n").cast("double") * F.col("m"))
    )
    return (
        ks.join(ecdf.select("source", "w", "gap"), ["source"])
        .filter(F.col("gap") == F.col("ks_raw"))
        .groupBy("source", "ks_raw")
        .agg(F.min("w").cast("bigint").alias("ks_at_tokens"))
        .join(F.broadcast(srcs), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("n").alias("n_docs"),
            F.round("ks_raw", 6).alias("ks_stat"),
            "ks_at_tokens",
            (F.col("ks_raw") > crit).alias("drift_flag"),
        )
    )


@register(
    "q308_invoice_reconciliation",
    oracle="""
WITH line AS (
  SELECT l_orderkey,
    SUM(CAST(l_extendedprice AS DECIMAL(10,2))
        * (1 - CAST(l_discount AS DECIMAL(6,4)))
        * (1 + CAST(l_tax AS DECIMAL(6,4)))) AS line_total
  FROM lineitem GROUP BY l_orderkey
),
j AS (
  SELECT o.o_orderstatus,
    CAST(o.o_totalprice AS DECIMAL(12,2)) AS header_total,
    CAST(l.line_total AS DECIMAL(38,10)) AS line_total
  FROM orders o JOIN line l ON l.l_orderkey = o.o_orderkey
)
SELECT o_orderstatus,
  CAST(COUNT(*) AS BIGINT) AS n_orders,
  CAST(SUM(CASE WHEN abs(header_total - line_total) > 0.01
                THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
  CAST(CAST(SUM(abs(header_total - line_total)) AS DECIMAL(38,10))
       AS VARCHAR) AS total_abs_drift
FROM j GROUP BY o_orderstatus
""",
    tags=("dq", "analytics"),
)
def q308_invoice_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-detail INVOICE reconciliation — the derived-column
    consistency audit every finance pipeline runs (does the order
    header's o_totalprice equal the sum of its lines' charge?): per
    order status, how many orders drift beyond a cent tolerance and by
    how much in total. All money math is exact DECIMAL — the charge
    expression is the shared SQL_CHARGE family, the drift an exact
    decimal |difference| summed without float noise (digits identical
    on both engines by construction).

    Scale shape: one hash agg on l_orderkey (map-side partial), one
    equi-join to headers (co-partitioned on the same key at scale),
    one tiny status agg. The audit reads each table exactly once."""
    li = load_table(spark, sf_dir, "lineitem")
    line = li.groupBy("l_orderkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(10,2)")
            * (1 - F.col("l_discount").cast("decimal(6,4)"))
            * (1 + F.col("l_tax").cast("decimal(6,4)"))
        ).alias("line_total")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(12,2)").alias("header_total"),
    )
    j = o.join(line, o.o_orderkey == line.l_orderkey).select(
        "o_orderstatus",
        "header_total",
        # full sub-cent scale: rounding the charge to cents is the
        # decimal round-TIE class (half-cent residues are exact and
        # COMMON here) — compare and sum drift at scale 10, exactly
        F.col("line_total").cast("decimal(38,10)").alias("line_total"),
    )
    drift = F.abs(F.col("header_total") - F.col("line_total"))
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.when(drift > 0.01, 1).otherwise(0))
        .cast("bigint")
        .alias("n_mismatched"),
        F.sum(drift).cast("decimal(38,10)").cast("string").alias(
            "total_abs_drift"
        ),
    )


_Q323_PAIRS = [
    # (child_table, child_col, parent_table, parent_col) — two true FKs,
    # one true FK at one remove, and two deliberate non-FKs
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_suppkey", "part", "p_partkey"),
    ("customer", "c_nationkey", "supplier", "s_suppkey"),
]


def _q323_pair_sql(ct: str, cc: str, pt: str, pc: str) -> str:
    return f"""
  SELECT '{ct}.{cc} -> {pt}.{pc}' AS candidate,
    (SELECT CAST(COUNT(DISTINCT {cc}) AS BIGINT) FROM {ct}) AS n_child_keys,
    (SELECT CAST(COUNT(DISTINCT {cc}) AS BIGINT) FROM {ct}
      WHERE {cc} IN (SELECT {pc} FROM {pt})) AS n_contained,
    (SELECT COUNT(*) = COUNT(DISTINCT {pc}) FROM {pt}) AS parent_unique"""


_Q323_ORACLE = (
    "\nUNION ALL\n".join(_q323_pair_sql(*p) for p in _Q323_PAIRS)
    + """
"""
)


@register(
    "q323_fk_inference_profile",
    oracle=f"""
WITH cand AS ({_Q323_ORACLE})
SELECT candidate, n_child_keys, n_contained, parent_unique,
  round(CAST(n_contained AS DOUBLE) / n_child_keys, 6) AS containment,
  (n_contained = n_child_keys AND parent_unique) AS fk_plausible
FROM cand
""",
    tags=("dq",),
)
def q323_fk_inference_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key INFERENCE profiling (schema discovery on an
    un-documented lake — q117 validates *declared* FKs; this scores
    *candidate* column pairs): for each candidate child→parent pair,
    exact containment (share of distinct child keys present in the
    parent) and parent-key uniqueness; a pair is fk_plausible only at
    containment 1.0 with a unique parent. The candidate list mixes
    true FKs with deliberate impostors (suppkey→partkey,
    nationkey→suppkey) so the verdict column carries information.

    Scale shape: per pair, one distinct-agg on the child key and a
    left-semi containment count against the parent key set — key-space
    sized, never row-space; candidates evaluated independently (and in
    production, in parallel over the catalog)."""
    tables = {t: load_table(spark, sf_dir, t) for t in
              {"lineitem", "orders", "part", "supplier", "customer"}}
    outs = []
    for ct, cc, pt, pc in _Q323_PAIRS:
        child = tables[ct].select(F.col(cc).alias("k")).distinct()
        parent = tables[pt].select(F.col(pc).alias("k"))
        contained = child.join(parent.distinct(), "k", "left_semi")
        stats = child.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_child_keys")
        ).crossJoin(
            contained.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_contained")
            )
        ).crossJoin(
            parent.agg(
                (F.count(F.lit(1)) == F.countDistinct("k")).alias(
                    "parent_unique"
                )
            )
        ).select(
            F.lit(f"{ct}.{cc} -> {pt}.{pc}").alias("candidate"),
            "n_child_keys",
            "n_contained",
            "parent_unique",
        )
        outs.append(stats)
    cand = outs[0]
    for o in outs[1:]:
        cand = cand.unionByName(o)
    return cand.select(
        "candidate",
        "n_child_keys",
        "n_contained",
        "parent_unique",
        F.round(
            F.col("n_contained").cast("double") / F.col("n_child_keys"), 6
        ).alias("containment"),
        (
            (F.col("n_contained") == F.col("n_child_keys"))
            & F.col("parent_unique")
        ).alias("fk_plausible"),
    )


def _q346_oracle() -> str:
    ph = sql_portable_hash64(
        "event_type || '#' || CAST(d AS VARCHAR) || '#dp-r8'"
    )
    return f"""
WITH g AS (
  SELECT event_type, CAST((month(ts) - 1) * 31 + day(ts) AS BIGINT) AS d, COUNT(*) AS c
  FROM events GROUP BY event_type, (month(ts) - 1) * 31 + day(ts)
), u AS (
  SELECT event_type, d, c,
    (CAST({ph} % 2000001 AS DOUBLE) - 1000000) / 1000001.0 AS uu
  FROM g
)
SELECT event_type, d AS day, CAST(c AS BIGINT) AS true_count,
  round(c - 2.0 * (CASE WHEN uu < 0 THEN -1.0 ELSE 1.0 END)
          * ln(1.0 - ABS(uu)), 3) AS noisy_count,
  (ABS(2.0 * ln(1.0 - ABS(uu))) <= 30.0) AS noise_bounded
FROM u
"""


@register(
    "q346_dp_noisy_counts",
    oracle=_q346_oracle(),
    tags=("dq", "privacy"),
)
def q346_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-differentially-private histogram release (ε = 0.5): per
    (event_type, day) counts plus Laplace(b = 1/ε = 2) noise drawn by
    DETERMINISTIC inverse-CDF — u uniform on (−1, 1) from the portable
    hash of the cell key, noise = −b·sign(u)·ln(1−|u|). Determinism is
    what makes a DP release auditable-by-replay (and oracle-checkable:
    DuckDB redraws the identical noise); in production the salt is a
    per-release secret, which restores the privacy guarantee — the
    mechanism and its sensitivity-1 calibration are what this query
    attests. true_count sits next to noisy_count for attestation
    only; a real release drops it. ln() may differ by an ulp across
    engines; noisy_count is rounded to 3 (the accepted q83f boundary
    class) and the |noise| ≤ 30 boolean has margin 10⁶× the drift.

    Scale shape: one hash agg to |cells|, then map-only noise — the
    mechanism adds zero shuffles to the histogram it protects."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", month_day("ts").alias("d")
    )
    g = e.groupBy("event_type", "d").agg(F.count(F.lit(1)).alias("c"))
    uu = (
        (
            portable_hash64(
                F.concat(
                    F.col("event_type"),
                    F.lit("#"),
                    F.col("d").cast("string"),
                    F.lit("#dp-r8"),
                )
            )
            % 2000001
        ).cast("double")
        - 1000000
    ) / 1000001.0
    noise = (
        F.lit(-2.0)
        * F.when(uu < 0, -1.0).otherwise(1.0)
        * F.log(F.lit(1.0) - F.abs(uu))
    )
    return g.select(
        "event_type",
        F.col("d").alias("day"),
        F.col("c").cast("bigint").alias("true_count"),
        F.round(F.col("c") + noise, 3).alias("noisy_count"),
        (F.abs(noise) <= 30.0).alias("noise_bounded"),
    )


@register(
    "q347_l_diversity",
    oracle="""
WITH q AS (
  SELECT lang, source,
    CASE WHEN n_chars < 250 THEN 'short'
         WHEN n_chars < 400 THEN 'mid' ELSE 'long' END AS sens
  FROM documents
), g AS (
  SELECT lang, source, COUNT(*) AS n, COUNT(DISTINCT sens) AS l
  FROM q GROUP BY lang, source
)
SELECT CAST(l AS BIGINT) AS l_diversity,
  CAST(COUNT(*) AS BIGINT) AS n_groups,
  CAST(SUM(n) AS BIGINT) AS n_rows,
  CAST(MIN(n) AS BIGINT) AS min_group_size
FROM g GROUP BY l
""",
    tags=("dq", "privacy"),
)
def q347_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity census — k-anonymity's (q181) necessary companion:
    a quasi-identifier group can be k-large yet still leak if every
    member shares the same SENSITIVE value (the homogeneity attack).
    Per (lang, source) QI group, count distinct sensitive length
    classes; report how many groups achieve each l with their minimum
    size. A release gate reads min l off this frame the way q181
    reads min k.

    Scale shape: two hash aggs (rows → QI groups → l histogram);
    distinct-sensitive is exact per group — the sensitive domain is 3
    values, so state is O(1) per group."""
    d = load_table(spark, sf_dir, "documents").select(
        "lang",
        "source",
        F.when(F.col("n_chars") < 250, "short")
        .when(F.col("n_chars") < 400, "mid")
        .otherwise("long")
        .alias("sens"),
    )
    g = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("sens").alias("l"),
    )
    return g.groupBy("l").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.min("n").cast("bigint").alias("min_group_size"),
    ).select(
        F.col("l").cast("bigint").alias("l_diversity"),
        "n_groups",
        "n_rows",
        "min_group_size",
    )


@register(
    "q363_merkle_integrity",
    oracle="""
WITH leaf AS (
  SELECT CAST(doc_id // 64 AS BIGINT) AS leaf_id,
    CAST(doc_id // 4096 AS BIGINT) AS node_id,
    md5(CAST(doc_id AS VARCHAR) || '|' || text) AS h,
    doc_id
  FROM documents
), lh AS (
  SELECT leaf_id, node_id, COUNT(*) AS n_docs,
    md5(string_agg(h, '' ORDER BY doc_id)) AS leaf_digest
  FROM leaf GROUP BY leaf_id, node_id
), l2 AS (
  SELECT node_id, CAST(SUM(n_docs) AS BIGINT) AS n_docs,
    md5(string_agg(leaf_digest, '' ORDER BY leaf_id)) AS digest
  FROM lh GROUP BY node_id
)
SELECT node_id, n_docs, digest FROM l2
UNION ALL
SELECT CAST(-1 AS BIGINT) AS node_id,
  CAST(SUM(n_docs) AS BIGINT) AS n_docs,
  md5(string_agg(digest, '' ORDER BY node_id)) AS digest
FROM l2
""",
    tags=("dq", "versioning"),
)
def q363_merkle_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle integrity tree over the corpus — the tamper-evidence /
    replication-audit primitive (compare roots to prove two copies
    equal; descend mismatching subtrees to find WHICH 64-row chunk
    diverged, in log time instead of a full diff): three levels with
    FIXED fanout 64 — leaf = md5 of its ≤64 row-hashes in doc_id
    order, inner node = md5 of its ≤64 leaf digests, root = md5 over
    inner digests. Fixed fanout is the scale contract: every
    string_agg concatenates a BOUNDED set (≤64 digests = 2 KB), so no
    aggregation state grows with the table; deeper tables add log₆₄
    levels, never bigger nodes (the root here aggregates |docs|/4096
    digests — add one more level past ~256k docs, same code shape).

    md5 and ordered string-agg are bit-identical cross-engine, so the
    DIGESTS themselves hash-match — the strongest possible oracle row
    (any single-byte corruption anywhere reddens it)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") / 64).cast("bigint").alias("leaf_id"),
        (F.col("doc_id") / 4096).cast("bigint").alias("node_id"),
        F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit("|"), F.col("text"))
        ).alias("h"),
    )

    def ordered_digest(order_col: str, hash_col: str) -> F.Column:
        return F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col(order_col).alias("o"),
                                     F.col(hash_col).alias("hh"))
                        )
                    ),
                    lambda x: x.getField("hh"),
                ),
                "",
            )
        )

    lh = d.groupBy("leaf_id", "node_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        ordered_digest("doc_id", "h").alias("leaf_digest"),
    )
    l2 = lh.groupBy("node_id").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        ordered_digest("leaf_id", "leaf_digest").alias("digest"),
    ).transform(checkpoint_df)  # consumed twice: output + root
    root = l2.groupBy().agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        ordered_digest("node_id", "digest").alias("digest"),
    ).select(F.lit(-1).cast("bigint").alias("node_id"), "n_docs", "digest")
    return l2.select("node_id", "n_docs", "digest").unionAll(root)


_Q364_FD_CANDIDATES = [
    ("o_orderkey", "o_custkey"),
    ("o_orderkey", "o_orderstatus"),
    ("o_custkey", "o_orderstatus"),
    ("o_custkey", "o_orderpriority"),
    ("o_orderpriority", "o_orderstatus"),
]


def _q364_oracle() -> str:
    parts = []
    for lhs, rhs in _Q364_FD_CANDIDATES:
        parts.append(f"""
SELECT '{lhs} -> {rhs}' AS candidate,
  CAST(COUNT(*) AS BIGINT) AS n_lhs_groups,
  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_violating_groups,
  (SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0) AS holds
FROM (
  SELECT {lhs}, COUNT(DISTINCT {rhs}) AS nd
  FROM orders GROUP BY {lhs})""")
    return " UNION ALL ".join(parts)


@register(
    "q364_fd_discovery",
    oracle=_q364_oracle(),
    tags=("dq",),
)
def q364_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery — the schema-profiling
    primitive behind key inference, normalization advice and
    constraint mining (q323's foreign-key profiler's intra-table
    sibling): for each candidate X → Y, count LHS groups with more
    than one distinct Y (violations); FD holds iff zero. Candidates
    here are the fixed audit set a profiler would test on the orders
    schema — the key column proves its keyness, the non-keys fail
    loudly with their violation counts.

    Scale shape: one hash agg per candidate (distinct-Y per X is
    exact; Y domains here are tiny so state is O(1) per group), each
    reduced to a 1-row verdict — candidates union into the report
    frame. At 100 TB you run the same plan per candidate pair; the
    lattice pruning that picks WHICH pairs is a planner concern, not
    an executor one."""
    o = load_table(spark, sf_dir, "orders")
    outs = []
    for lhs, rhs in _Q364_FD_CANDIDATES:
        g = o.groupBy(lhs).agg(F.countDistinct(rhs).alias("nd"))
        outs.append(
            g.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_lhs_groups"),
                F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
                .cast("bigint")
                .alias("n_violating_groups"),
            ).select(
                F.lit(f"{lhs} -> {rhs}").alias("candidate"),
                "n_lhs_groups",
                "n_violating_groups",
                (F.col("n_violating_groups") == 0).alias("holds"),
            )
        )
    res = outs[0]
    for x in outs[1:]:
        res = res.unionAll(x)
    return res


@register(
    "q378_props_profile",
    oracle="""
WITH p AS (
  SELECT event_type,
    CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS BIGINT) AS k,
    CASE WHEN regexp_extract(props, '"k":\\s*(-?\\d+)', 1) = ''
         THEN 1 ELSE 0 END AS unparsed
  FROM events
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(unparsed) AS BIGINT) AS n_unparsed,
  CAST(MIN(k) AS BIGINT) AS k_min,
  CAST(MAX(k) AS BIGINT) AS k_max,
  CAST(COUNT(DISTINCT k) AS BIGINT) AS k_distinct,
  CAST(SUM(k) AS BIGINT) AS k_sum
FROM p GROUP BY event_type
""",
    tags=("dq",),
)
def q378_props_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload PROFILING — the schema-inference census
    run before promoting a JSON string column to typed storage (q70's
    extraction operators assume you already know the shape; this is
    how you find out, and how you catch producers drifting): per
    event type, parse coverage (unparsed counts), value range,
    cardinality and checksum of the embedded `k` field. Extraction is
    a shared-regex map (RE2/Java-compatible pattern, the q103 rule) —
    at 100 TB this pass is one codegen'd scan, which is why profiling
    before schema migration is cheap insurance.

    Scale shape: map-side regex + one hash agg to |event types|."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.regexp_extract("props", r'"k":\s*(-?\d+)', 1).alias("raw"),
    ).select(
        "event_type",
        F.when(F.col("raw") == "", None)
        .otherwise(F.col("raw"))
        .cast("bigint")
        .alias("k"),
        F.when(F.col("raw") == "", 1).otherwise(0).alias("unparsed"),
    )
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("unparsed").cast("bigint").alias("n_unparsed"),
        F.min("k").cast("bigint").alias("k_min"),
        F.max("k").cast("bigint").alias("k_max"),
        F.countDistinct("k").cast("bigint").alias("k_distinct"),
        F.sum("k").cast("bigint").alias("k_sum"),
    )


_Q399_SQL = """
WITH b AS (
  SELECT lang,
    LEAST(CAST(floor(n_chars / 1e2) AS BIGINT), 9) AS bin
  FROM {documents}
), counts AS (
  SELECT lang, bin, CAST(COUNT(*) AS BIGINT) AS c
  FROM b GROUP BY lang, bin
), bins AS (
  SELECT DISTINCT bin FROM b
), langs AS (
  SELECT lang, CAST(SUM(c) AS BIGINT) AS nl FROM counts GROUP BY lang
), gbin AS (
  SELECT bin, CAST(SUM(c) AS BIGINT) AS g FROM counts GROUP BY bin
), tot AS (
  SELECT CAST(SUM(g) AS BIGINT) AS nn FROM gbin
), grid AS (
  SELECT /*+ BROADCAST(bn) */ l.lang, l.nl, bn.bin,
    COALESCE(c.c, 0) AS c
  FROM langs l
  CROSS JOIN bins bn
  LEFT JOIN counts c ON c.lang = l.lang AND c.bin = bn.bin
), cum AS (
  SELECT /*+ BROADCAST(t) */ g.lang, g.nl, g.bin,
    SUM(g.c) OVER (PARTITION BY g.lang ORDER BY g.bin) AS cl,
    SUM(gl.g) OVER (PARTITION BY g.lang ORDER BY g.bin) AS cg,
    t.nn
  FROM grid g JOIN gbin gl ON gl.bin = g.bin CROSS JOIN tot t
), emd AS (
  SELECT lang, MAX(nl) AS n_docs,
    CAST(SUM(CAST(floor(
      abs(CAST(cl AS DOUBLE) / nl - CAST(cg AS DOUBLE) / nn) * 1e9)
      AS BIGINT)) AS BIGINT) AS g
  FROM cum GROUP BY lang
)
SELECT lang, n_docs,
  round(g / 1e9 / 10, 6) AS emd_t_closeness,
  g / 1e9 / 10 <= 0.05 AS t_close_005
FROM emd
"""


@register(
    "q399_t_closeness",
    oracle=_Q399_SQL.format(documents="documents"),
    tags=("dq", "privacy"),
)
def q399_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-CLOSENESS audit — the third rung of the anonymization ladder
    the engine already climbs (k-anonymity q181 bounds group sizes,
    l-diversity q347 bounds distinct sensitive values; t-closeness
    bounds the DISTRIBUTION gap): per quasi-identifier group (lang),
    the Earth-Mover's Distance between the group's sensitive-attribute
    distribution (doc length, 10 ordered bins) and the global one —
    EMD over an ordered 1-D histogram is exactly the mean |CDF gap|,
    the q342 Wasserstein machinery specialized to the privacy test.
    A group that fails (> 0.05) leaks attribute information even when
    k-anonymous and l-diverse.

    Integer counts → windowed integer cumsums (PARTITIONED per lang
    over 10 bins) → per-bin gaps on the 1e-9 grid. One hash agg plus
    constant-size folds."""
    return _sql_twin(spark, sf_dir, _Q399_SQL, ["documents"])


_Q400_SQL = """
WITH u AS (
  SELECT user_id, user_id % 3 AS cohort,
    MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS t
  FROM {events} GROUP BY user_id
), rr AS (
  -- randomized response: flip the true bit when the user's salted md5
  -- nibble < '4' (flip prob q = 1/4, deterministic, engine-replayable)
  SELECT cohort, t,
    CASE WHEN substring(md5(CAST(user_id * 7919 AS STRING)), 1, 1) < '4'
         THEN 1 - t ELSE t END AS reported
  FROM u
), s AS (
  SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(reported) AS BIGINT) AS nr, CAST(SUM(t) AS BIGINT) AS nt
  FROM rr GROUP BY cohort
)
SELECT cohort, n AS n_users,
  round(CAST(nr AS DOUBLE) / n, 6) AS reported_rate,
  round((CAST(nr AS DOUBLE) / n - 0.25) / 0.5, 6) AS debiased_estimate,
  round(CAST(nt AS DOUBLE) / n, 6) AS true_rate,
  round(abs((CAST(nr AS DOUBLE) / n - 0.25) / 0.5
            - CAST(nt AS DOUBLE) / n), 6) AS abs_error
FROM s
"""


@register(
    "q400_randomized_response",
    oracle=_Q400_SQL.format(events="events"),
    tags=("dq", "privacy"),
)
def q400_randomized_response(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANDOMIZED RESPONSE debiasing (Warner 1965 — the mechanism
    behind RAPPOR-style local differential privacy): each user's
    sensitive bit is flipped with probability q=1/4 BEFORE collection,
    giving per-user plausible deniability (ε = ln(3) local DP); the
    aggregate truth is recovered as (p̂_reported − q)/(1 − 2q). The
    fixture knows ground truth, so the query surfaces estimate AND
    truth AND the estimation error per cohort — the end-to-end
    privacy-utility demonstration (q346's central-DP noisy counts add
    noise at the aggregator; RR pushes it to the client, the stronger
    threat model). The 'randomness' is the salted md5 nibble —
    deterministic, so both engines replay the identical mechanism
    (the q136/q96 portable-randomness discipline)."""
    return _sql_twin(spark, sf_dir, _Q400_SQL, ["events"])
