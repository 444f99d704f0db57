"""Fixture table loaders with explicit schemas (never inference).

Schemas verified against the parquet footers (FIXTURES.md §B). Explicit
schemas keep engine/oracle comparisons deterministic and make column
pruning obvious in scans. Timestamp columns are TIMESTAMP_NTZ: the
fixtures were written by pandas without a timezone (isAdjustedToUTC =
false), and NTZ round-trips to naive datetimes exactly like DuckDB.

``events.ts`` physical precision is fixture-generation-dependent: the
round-1 fixtures wrote ``timestamp[ns]`` (which Spark's parquet reader
rejects outright — worked around by reading raw int64 nanos and
rebuilding NTZ), the round-2 regeneration writes ``timestamp[us]``
(directly readable). The loader sniffs the footer (one driver-side
metadata read, cached) and picks the right path, so the engine keeps
working whichever form the generator emits. Oracle-checked queries
still truncate ts to seconds on both sides (see ``functions.compat``) —
that convention is precision-form-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def _schema(*fields: tuple[str, object]) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


SCHEMAS: dict[str, StructType] = {
    "region": _schema(
        ("r_regionkey", IntegerType()),
        ("r_name", StringType()),
    ),
    "nation": _schema(
        ("n_nationkey", IntegerType()),
        ("n_name", StringType()),
        ("n_regionkey", IntegerType()),
    ),
    "customer": _schema(
        ("c_custkey", LongType()),
        ("c_name", StringType()),
        ("c_nationkey", IntegerType()),
        ("c_acctbal", DoubleType()),
        ("c_mktsegment", StringType()),
    ),
    "supplier": _schema(
        ("s_suppkey", LongType()),
        ("s_name", StringType()),
        ("s_nationkey", IntegerType()),
        ("s_acctbal", DoubleType()),
    ),
    "part": _schema(
        ("p_partkey", LongType()),
        ("p_name", StringType()),
        ("p_brand", StringType()),
        ("p_type", StringType()),
        ("p_size", IntegerType()),
        ("p_retailprice", DoubleType()),
    ),
    "orders": _schema(
        ("o_orderkey", LongType()),
        ("o_custkey", LongType()),
        ("o_orderstatus", StringType()),
        ("o_totalprice", DoubleType()),
        ("o_orderdate", TimestampNTZType()),
        ("o_orderpriority", StringType()),
    ),
    "lineitem": _schema(
        ("l_orderkey", LongType()),
        ("l_partkey", LongType()),
        ("l_suppkey", LongType()),
        ("l_linenumber", IntegerType()),
        ("l_quantity", DoubleType()),
        ("l_extendedprice", DoubleType()),
        ("l_discount", DoubleType()),
        ("l_tax", DoubleType()),
        ("l_returnflag", StringType()),
        ("l_linestatus", StringType()),
        ("l_shipdate", TimestampNTZType()),
    ),
    # Logical schema; the loader swaps ts→int64 when the physical file
    # is TIMESTAMP(NANOS) (see module docstring + _events_needs_rebuild).
    "events": _schema(
        ("event_id", LongType()),
        ("ts", TimestampNTZType()),
        ("user_id", LongType()),
        ("event_type", StringType()),
        ("value", DoubleType()),
        ("props", StringType()),
    ),
    "documents": _schema(
        ("doc_id", LongType()),
        ("text", StringType()),
        ("lang", StringType()),
        ("source", StringType()),
        ("n_chars", LongType()),
    ),
    "embeddings": _schema(
        ("vec_id", LongType()),
        ("embedding", ArrayType(FloatType())),
        ("label", IntegerType()),
    ),
}

TABLES: tuple[str, ...] = tuple(SCHEMAS)


# Rebuild TIMESTAMP_NTZ from int64 nanoseconds, truncated to µs, without
# ever passing through a timezone-dependent cast (LTZ↔NTZ conversions use
# the session tz, which the verification driver does not pin to UTC).
# make_dt_interval's seconds arg is DECIMAL(8,6), hence the d/h/m/s split;
# all arithmetic is integral/decimal → exact.
_EVENTS_TS_NTZ = """
TIMESTAMP_NTZ '1970-01-01 00:00:00' + make_dt_interval(
  CAST(ts DIV 86400000000000 AS INT),
  CAST((ts % 86400000000000) DIV 3600000000000 AS INT),
  CAST((ts % 3600000000000) DIV 60000000000 AS INT),
  CAST((ts % 60000000000) DIV 1000 AS DECIMAL(20,0)) / 1000000
)
"""

# path -> whether events.ts needs the int64-nanos rebuild
_EVENTS_NS_CACHE: dict[str, bool] = {}


def _events_needs_rebuild(path: str) -> bool:
    """True when the events file at ``path`` stores ts as
    TIMESTAMP(NANOS) (round-1 fixtures) — which Spark cannot read as a
    timestamp and must ingest as raw int64. Footer-metadata-only read on
    the driver, cached per path."""
    if path not in _EVENTS_NS_CACHE:
        import pyarrow.parquet as pq

        f = path
        if os.path.isdir(path):
            inner = sorted(
                x for x in os.listdir(path) if x.endswith(".parquet")
            )
            if not inner:
                raise FileNotFoundError(f"no parquet files under {path!r}")
            f = os.path.join(path, inner[0])
        t = pq.read_schema(f).field("ts").type
        import pyarrow as pa

        # raw int64 = already-extracted nanos (replay/replica dirs
        # written before round 2); timestamp[ns] = round-1 fixtures.
        _EVENTS_NS_CACHE[path] = pa.types.is_int64(t) or (
            pa.types.is_timestamp(t) and t.unit == "ns"
        )
    return _EVENTS_NS_CACHE[path]


def _events_raw_ns_schema() -> StructType:
    fields = [
        StructField(f.name, LongType() if f.name == "ts" else f.dataType, True)
        for f in SCHEMAS["events"].fields
    ]
    return StructType(fields)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table with its declared schema.

    Explicit ``.schema(...)`` + declarative downstream plans keep filter
    pushdown and column pruning intact (check ``PushedFilters`` /
    ``ReadSchema`` in ``df.explain("formatted")``).
    """
    if name not in SCHEMAS:
        raise KeyError(f"unknown fixture table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events" and _events_needs_rebuild(path):
        from pyspark.sql import functions as F

        raw = spark.read.schema(_events_raw_ns_schema()).parquet(path)
        return raw.withColumn("ts", F.expr(_EVENTS_TS_NTZ).cast("timestamp_ntz"))
    return spark.read.schema(SCHEMAS[name]).parquet(path)


def rebalance_if_undersplit(df: DataFrame, key=None) -> DataFrame:
    """Round-robin rebalance to the session's parallelism when the scan
    undersplit the input (guide §2.5 input skew / §2.6 idle capacity).

    The local fixtures are single-row-group parquet files, so every
    scan is ONE input split and any per-row compute between the scan
    and the first exchange serializes on one core while the other
    N-1 idle. Queries whose pre-exchange compute dominates the scan
    decode (shingling, vector scoring, decimal aggregation over wide
    rows) route their scan through this guard. At production scale a
    table's file set splits far past the session parallelism, the
    probe sees enough partitions, and NO exchange is added — the
    plan is unchanged exactly where the extra shuffle would hurt.
    (Same pattern the LSH pipeline has carried since round 4; hoisted
    here so every operator shares one audited implementation.)"""
    par = df.sparkSession.sparkContext.defaultParallelism
    # Probe with inputFiles() — pure plan metadata — NOT
    # .rdd.getNumPartitions(): under AQE, .rdd on a frame with upstream
    # shuffles eagerly EXECUTES those stages and discards the work when
    # the frame is then used as a DataFrame (the _banded_postings
    # lesson, ADVICE r10). inputFiles() lists the leaf files of ANY
    # file-backed plan, shuffles included, so the probe only means
    # "the scan undersplit" when the frame is scan-adjacent: callers
    # pass a scan plus narrow per-row work, never a frame downstream of
    # an exchange (whose width is already spark.sql.shuffle.partitions).
    # Caveat vs the old probe: a single file BIGGER than
    # maxPartitionBytes would split fine at scan yet still count as 1
    # here — acceptable, because the guard's keyed repartition is a
    # no-op-cost exchange exactly when the scan was already parallel,
    # and such tables don't occur in the fixture or any sane production
    # layout (compaction targets < split size).
    try:
        n_files = len(df.inputFiles())
    except Exception:  # non-file-backed plan (e.g. in-memory fixture)
        n_files = par
    if 0 < n_files < par:
        if key is not None:
            # HASH repartition on a high-cardinality deterministic key:
            # keyless round-robin pays a hidden local sort of the full
            # rows first (spark.sql.execution.sortBeforeRepartition,
            # needed for retry determinism — guide §2.5), which an A/B
            # on q01 measured at ~0.4 s of the ~1.2 s total; hashing a
            # real key needs no sort and keeps task retries
            # deterministic by construction.
            return df.repartition(par, key)
        return df.repartition(par)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Register every fixture table as a temp view so pure-SQL users
    (spark.sql / the CLI ``sql`` command) can query the warehouse by
    name — the zero-API entry point."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return list(TABLES)
