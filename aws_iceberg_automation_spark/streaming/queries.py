"""Driver-visible streaming queries (SURVEY.md §2.10 #72-77): each runs
a real multi-microbatch Structured Streaming execution (file replay +
availableNow) and returns the materialized result, so the DuckDB oracle
can hash-check *streaming* output against batch SQL — the strongest
form of #80's batch-equivalence requirement.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.compat import ts_sec
from ..io import load_table
from ..registry import register
from . import jobs

_REPLAY_CACHE: dict[tuple[str, str], str] = {}


def _replay(spark: SparkSession, sf_dir: str) -> str:
    from ..versioning import session_fixture_dir

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _REPLAY_CACHE:
        # per-session deterministic dir (round-6 advice: mkdtemp per
        # invocation leaked /tmp across sweep/bench/pytest runs); the
        # sf tag keeps two scale factors within one session apart
        d = session_fixture_dir(
            spark, "events_replay_" + os.path.basename(sf_dir.rstrip("/"))
        )
        _REPLAY_CACHE[key] = jobs.prepare_replay_dir(spark, sf_dir, d, n_chunks=5)
    return _REPLAY_CACHE[key]


def _stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The watermark path round-trips NTZ→LTZ→NTZ; with a non-whole-hour
    # session timezone the hour buckets would shift vs the oracle. Pin
    # UTC for the session running these queries.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return jobs.read_events_stream(spark, _replay(spark, sf_dir))


@register(
    "q72_stream_tumbling_replay",
    oracle="""
SELECT time_bucket(INTERVAL 1 HOUR, date_trunc('second', ts)) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DECIMAL(38,2)) AS VARCHAR) AS total_value
FROM events
GROUP BY 1, 2
""",
    tags=("streaming",),
)
def q72_stream_tumbling_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation executed as a genuine
    stream (5 microbatches, watermark advancing) — output hash-matches
    the batch SQL oracle (#72, #73, #80)."""
    out = jobs.run_to_memory(
        jobs.tumbling_agg(jobs.with_watermark(_stream(spark, sf_dir))),
    )
    return out


def _sliding_oracle() -> str:
    from ..operators.events import ORACLE_SLIDING

    return ORACLE_SLIDING


def _session_oracle() -> str:
    from ..operators.events import ORACLE_SESSION

    return ORACLE_SESSION


@register("q74b_stream_sliding_replay", oracle=_sliding_oracle(), tags=("streaming",))
def q74b_stream_sliding_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window as a genuine replayed stream (#74 + #80): same
    expression builder as the q74 batch twin, verified against the
    identical oracle — stream == batch == oracle, transitively."""
    return jobs.run_to_memory(
        jobs.sliding_agg(jobs.with_watermark(_stream(spark, sf_dir))),
    )


@register("q75c_stream_session_replay", oracle=_session_oracle(), tags=("streaming",))
def q75c_stream_session_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session window as a genuine replayed stream (#75 + #80): session
    state merges across microbatches, watermark closes sessions; output
    hash-matches the lag/cumulative-flag SQL oracle."""
    return jobs.run_to_memory(
        jobs.session_agg(jobs.with_watermark(_stream(spark, sf_dir))),
    )


@register(
    "q76_stream_dedup_replay",
    oracle="""
SELECT event_id, user_id, event_type, value FROM events
""",
    tags=("streaming",),
)
def q76_stream_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates with watermark-bounded state (#76): the
    dedup key carries the event time, so each key leaves the state once
    the watermark passes it. event_ids are unique in the fixture and the
    time-ordered replay delivers no row behind the watermark, so
    exactly-once output equals the full table — which is precisely what
    the oracle asserts."""
    out = jobs.run_to_memory(
        jobs.streaming_dedup(jobs.with_watermark(_stream(spark, sf_dir))),
        output_mode="append",
    )
    return out.select("event_id", "user_id", "event_type", "value")


@register(
    "q77_stream_stateful_totals",
    oracle="""
SELECT user_id, COUNT(*) AS events_seen FROM events GROUP BY user_id
""",
    tags=("streaming",),
)
def q77_stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (#77): applyInPandasWithState running
    totals across microbatches; the final per-user state must equal the
    batch group-by — update-mode emissions collapsed by max."""
    out = jobs.run_to_memory(
        jobs.stateful_user_totals(jobs.with_watermark(_stream(spark, sf_dir))),
        output_mode="update",
    )
    return out.groupBy("user_id").agg(F.max("events_seen").alias("events_seen"))


from ..operators.behavioral import ORACLE_SEQUENCE  # noqa: E402


@register(
    "q180_stream_sequence_pattern",
    oracle=ORACLE_SEQUENCE,
    tags=("streaming", "behavioral"),
)
def q180_stream_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CEP: the view(click)*purchase journey matcher as a
    constant-state per-user DFA (jobs.stateful_sequence_matcher),
    executed across a genuine multi-microbatch replay and hash-matched
    against the SAME oracle as the batch regex twin q177 — proving the
    bounded-state automaton computes exactly what the unbounded-string
    regex does, across microbatch boundaries. Update-mode emissions
    collapse by max (both counters are monotonic)."""
    out = jobs.run_to_memory(
        jobs.stateful_sequence_matcher(_stream(spark, sf_dir)),
        output_mode="update",
    )
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("n_matches").alias("n_matches"),
        (F.max("n_matches") > 0).alias("matched"),
    )


@register(
    "q122_stream_stream_join",
    oracle="""
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
  CAST(epoch(date_trunc('second', p.ts)) - epoch(date_trunc('second', c.ts)) AS BIGINT)
    AS lag_seconds
FROM events c JOIN events p
  ON c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.user_id = c.user_id
 AND date_trunc('second', p.ts) >= date_trunc('second', c.ts)
 AND date_trunc('second', p.ts) <= date_trunc('second', c.ts) + INTERVAL 30 MINUTE
""",
    tags=("streaming",),
)
def q122_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream watermarked inner join executed as a genuine
    multi-microbatch replay: click→purchase attribution within 30
    minutes, hash-matched against the batch join oracle — proving the
    two-stream state machine buffers and matches across microbatch
    boundaries without losing or duplicating pairs."""
    out = jobs.run_to_memory(
        jobs.stream_stream_attribution(_stream(spark, sf_dir)),
        output_mode="append",
    )
    return out


@register(
    "q146_stream_stream_left_outer",
    oracle="""
WITH mx AS (
  -- the join's watermark is the MIN across both input streams; the
  -- sparse purchase side's max can lag the global max, so the
  -- determinism horizon must derive from the least of the two
  SELECT least(
    MAX(CASE WHEN event_type = 'click' THEN date_trunc('second', ts) END),
    MAX(CASE WHEN event_type = 'purchase' THEN date_trunc('second', ts) END)
  ) AS m FROM events
),
c AS (
  SELECT user_id, event_id AS click_id, date_trunc('second', ts) AS click_ts
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id AS pu, event_id AS purchase_id, date_trunc('second', ts) AS pts
  FROM events WHERE event_type = 'purchase'
)
SELECT c.user_id, c.click_id, c.click_ts, p.purchase_id,
  CAST(epoch(p.pts) - epoch(c.click_ts) AS BIGINT) AS lag_seconds
FROM c
LEFT JOIN p ON p.pu = c.user_id
  AND p.pts >= c.click_ts
  AND p.pts <= c.click_ts + INTERVAL 30 MINUTE
WHERE c.click_ts <= (SELECT m FROM mx) - INTERVAL 170 MINUTE
""",
    tags=("streaming",),
)
def q146_stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join replay: unmatched clicks must emit
    null-extended once the watermark proves no purchase can still
    arrive. Compared to the batch left join behind the determinism
    horizon (max event time - watermark delay - window - margin): ahead
    of it, outer-join output is legitimately indeterminate -- a younger
    click's null row may still be withheld -- so BOTH sides filter to
    the horizon; everything behind it must match exactly, nulls
    included."""
    out = jobs.run_to_memory(
        jobs.stream_stream_attribution_outer(_stream(spark, sf_dir)),
        output_mode="append",
    )
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(
        F.least(
            ts_sec(F.max(F.when(F.col("event_type") == "click", F.col("ts")))),
            ts_sec(F.max(F.when(F.col("event_type") == "purchase", F.col("ts")))),
        ).alias("m")
    )
    return (
        out.join(F.broadcast(mx))
        .filter(
            F.col("click_ts")
            <= F.col("m") - F.expr("INTERVAL 170 MINUTES")
        )
        .drop("m")
    )


def q77b_stream_stateful_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#77 twin on Spark 4's transformWithStateInPandas (typed
    ValueState, the successor API to applyInPandasWithState): identical
    running-totals semantics, same batch oracle — final per-user state
    must equal the batch group-by. Registered only when the runtime has
    protobuf (jobs.HAVE_TWS_RUNTIME) — this container does not, so the
    gated path is exercised by the fail-loud pytest instead."""
    out = jobs.run_to_memory(
        jobs.stateful_user_totals_tws(jobs.with_watermark(_stream(spark, sf_dir))),
        output_mode="update",
    )
    return out.groupBy("user_id").agg(F.max("events_seen").alias("events_seen"))


if jobs.HAVE_TWS_RUNTIME:  # pragma: no cover — environment-dependent
    register(
        "q77b_stream_stateful_tws",
        oracle="""
SELECT user_id, COUNT(*) AS events_seen FROM events GROUP BY user_id
""",
        tags=("streaming",),
    )(q77b_stream_stateful_tws)


def _cms_cells_oracle() -> str:
    from ..functions.compat import sql_cms_bucket

    return f"""
SELECT seed, {sql_cms_bucket("user_id", "seed", 1024)} AS bucket,
       CAST(COUNT(*) AS BIGINT) AS cell
FROM events, (SELECT unnest(range(0, 4)) AS seed) seeds
GROUP BY 1, 2
"""


@register(
    "q194_stream_countmin_replay",
    oracle=_cms_cells_oracle(),
    tags=("streaming", "sketch", "llm"),
)
def q194_stream_countmin_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch maintained BY THE STREAM (q193's build as a
    continuously-updated streaming aggregate over the replayed event
    stream, sketching user_id traffic): the canonical bounded-state
    trick — the aggregation state is exactly depth·width integer cells
    (4×1024 here) no matter how many events flow through, so a sketch
    over an unbounded stream needs no watermark and never grows.
    Complete-mode output republishes the 4096-cell sketch per
    microbatch; any point query / heavy-hitter probe then reads the
    latest sketch without touching the stream.

    Oracle-backed (VERDICT r03 ask #2): the sketch runs on the portable
    md5 hash family, so DuckDB's batch CMS over the same events equals
    the streaming state cell-for-cell — the driver's hash row IS the
    mergeability proof (integer counts are order- and batching-
    insensitive), doubled by the pytest streaming-equals-batch
    invariant (test_streaming)."""
    from ..operators.text import countmin_cells

    # the SAME build as q193 (shared helper — pure expressions work on
    # streaming frames unchanged), keyed on user_id instead of terms
    cells = countmin_cells(
        _stream(spark, sf_dir).select("user_id"), "user_id", 4, 1024
    )
    return jobs.run_to_memory(cells, output_mode="complete")


@register(
    "q256_stream_drift_monitor",
    oracle="""
WITH ev AS (
  SELECT time_bucket(INTERVAL 1 HOUR, date_trunc('second', ts))
           AS window_start,
         event_type
  FROM events
), ref AS (
  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS rn FROM ev GROUP BY 1
), tot AS (
  SELECT CAST(SUM(rn) AS DOUBLE) AS n_tot,
         CAST(COUNT(*) AS DOUBLE) AS t
  FROM ref
), wc AS (
  SELECT window_start, event_type, CAST(COUNT(*) AS DOUBLE) AS n
  FROM ev GROUP BY 1, 2
), wn AS (
  SELECT window_start, SUM(n) AS wn FROM wc GROUP BY 1
), grid AS (
  SELECT w.window_start, w.wn, r.rn, COALESCE(wc.n, 0) AS n
  FROM wn w CROSS JOIN ref r
  LEFT JOIN wc ON wc.window_start = w.window_start
              AND wc.event_type = r.event_type
)
SELECT window_start, CAST(wn AS BIGINT) AS n_events,
  round(SUM(
    ((n + 0.5) / (wn + 0.5 * tot.t) - (rn + 0.5) / (tot.n_tot + 0.5 * tot.t))
    * ln(((n + 0.5) / (wn + 0.5 * tot.t))
         / ((rn + 0.5) / (tot.n_tot + 0.5 * tot.t)))
  ), 6) AS psi,
  round(SUM(
    ((n + 0.5) / (wn + 0.5 * tot.t) - (rn + 0.5) / (tot.n_tot + 0.5 * tot.t))
    * ln(((n + 0.5) / (wn + 0.5 * tot.t))
         / ((rn + 0.5) / (tot.n_tot + 0.5 * tot.t)))
  ), 6) > 0.2 AS drift_flag
FROM grid CROSS JOIN tot
GROUP BY window_start, wn, tot.n_tot, tot.t
""",
    tags=("streaming", "dq", "drift"),
)
def q256_stream_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distribution-drift monitor: per hourly event-time
    window, the PSI of the window's event-type mix against the
    corpus-wide reference distribution (Laplace-smoothed over the
    global type spine, so a type absent from a window still
    contributes) — q120's batch PSI turned into the live pager
    (psi > 0.2 = the industry "significant shift" line). Runs as a
    genuine multi-microbatch stream: the stateful operator is EXACTLY
    q72's watermarked (window × type) count — state bounded by
    |windows in watermark| × |types| — and the PSI arithmetic is a
    stateless display-layer rollup over the materialized counts plus a
    broadcast reference (the stream-static pattern, #79). The DuckDB
    oracle recomputes the whole thing from batch events, so the driver
    hash row proves streaming counts ≡ batch counts AND the smoothing
    algebra.

    At scale the reference is |types| rows (broadcast), the per-window
    grid is |windows|×|types|, and the stream shuffles only the
    windowed count agg — the same plan q72 already pays."""
    counts = (
        jobs.with_watermark(_stream(spark, sf_dir))
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            F.col("n").cast("double").alias("n"),
        )
    )
    mat = jobs.run_to_memory(counts)
    ref = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("double").alias("rn"))
    )
    tot = ref.agg(
        F.sum("rn").alias("n_tot"),
        F.count(F.lit(1)).cast("double").alias("t"),
    )
    # rename the rollup's keys: a memory-sink view joined against its
    # own aggregate trips Catalyst's self-join attribute dedup
    # (Conflicting attributes — the ranking.py:HOF-binding lesson), so
    # the two sides must carry distinct attribute names
    wn = mat.groupBy(F.col("window_start").alias("ws")).agg(
        F.sum("n").alias("wn")
    )
    grid = (
        wn.crossJoin(F.broadcast(ref.withColumnRenamed("event_type", "et")))
        .join(
            mat,
            (F.col("ws") == mat["window_start"])
            & (F.col("et") == mat["event_type"]),
            "left",
        )
        .select(
            F.col("ws").alias("window_start"),
            "wn",
            "rn",
            F.coalesce(F.col("n"), F.lit(0.0)).alias("n"),
        )
        .crossJoin(F.broadcast(tot))
    )
    p = (F.col("n") + 0.5) / (F.col("wn") + 0.5 * F.col("t"))
    q = (F.col("rn") + 0.5) / (F.col("n_tot") + 0.5 * F.col("t"))
    psi = F.round(F.sum((p - q) * F.log(p / q)), 6)
    return grid.groupBy("window_start", "wn").agg(
        psi.alias("psi"),
        (psi > 0.2).alias("drift_flag"),
    ).select(
        "window_start",
        F.col("wn").cast("bigint").alias("n_events"),
        "psi",
        "drift_flag",
    )


@register(
    "q263_stream_static_replay",
    oracle="""
SELECT e.event_id, e.user_id, e.event_type,
       c.c_mktsegment AS segment, c.c_acctbal AS acctbal
FROM events e
LEFT JOIN customer c ON c.c_custkey = e.user_id
""",
    tags=("streaming",),
)
def q263_stream_static_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension join (#79) as a genuine multi-microbatch
    replay — the last §2 row to earn a driver-checkable entry (VERDICT
    r04 ask #2). Every events microbatch left-joins the broadcast
    customer dim (re-read per microbatch, no stream shuffle, no state);
    user_id 0 has no matching custkey, so null extension is exercised.
    Output hash-matches the batch left-join oracle. Reference need:
    enriching an event stream against a Glue-cataloged dimension
    (create_iceberg_tables.py writes the dims; SURVEY §2.10 row 79)."""
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("acctbal"),
    )
    out = jobs.run_to_memory(
        jobs.stream_static_join(_stream(spark, sf_dir), dim),
        output_mode="append",
    )
    return out.select("event_id", "user_id", "event_type", "segment", "acctbal")


@register(
    "q264_stream_stream_full_outer",
    oracle="""
WITH mx AS (
  SELECT least(
    MAX(CASE WHEN event_type = 'click' THEN date_trunc('second', ts) END),
    MAX(CASE WHEN event_type = 'purchase' THEN date_trunc('second', ts) END)
  ) AS m FROM events
),
c AS (
  SELECT user_id, event_id AS click_id, date_trunc('second', ts) AS click_ts
  FROM events WHERE event_type = 'click'
), p AS (
  SELECT user_id AS pu, event_id AS purchase_id, date_trunc('second', ts) AS pts
  FROM events WHERE event_type = 'purchase'
)
SELECT COALESCE(c.user_id, p.pu) AS user_id, c.click_id, c.click_ts,
  p.purchase_id, p.pts AS purchase_ts,
  CAST(epoch(p.pts) - epoch(c.click_ts) AS BIGINT) AS lag_seconds
FROM c
FULL JOIN p ON p.pu = c.user_id
  AND p.pts >= c.click_ts
  AND p.pts <= c.click_ts + INTERVAL 30 MINUTE
WHERE COALESCE(c.click_ts, p.pts) <= (SELECT m FROM mx) - INTERVAL 170 MINUTE
""",
    tags=("streaming",),
)
def q264_stream_stream_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream join replay — the join-matrix
    completion over q122 (inner) and q146 (left outer): unmatched
    clicks null-extend on the right AND orphan purchases (no click in
    the preceding 30 minutes) null-extend on the left, each only after
    the opposite watermark proves absence. Compared to the batch full
    join behind the same determinism horizon as q146 (max event time −
    2 h delay − 30 min window − margin), anchored per row at its
    earliest side: behind the horizon every emission — matched pairs,
    null-extended clicks, null-extended purchases — must match the
    batch full join exactly."""
    out = jobs.run_to_memory(
        jobs.stream_stream_attribution_full(_stream(spark, sf_dir)),
        output_mode="append",
    )
    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(
        F.least(
            ts_sec(F.max(F.when(F.col("event_type") == "click", F.col("ts")))),
            ts_sec(F.max(F.when(F.col("event_type") == "purchase", F.col("ts")))),
        ).alias("m")
    )
    return (
        out.join(F.broadcast(mx))
        .filter(
            F.coalesce(F.col("click_ts"), F.col("purchase_ts"))
            <= F.col("m") - F.expr("INTERVAL 170 MINUTES")
        )
        .drop("m")
    )


@register(
    "q266_cdc_upsert_replay",
    oracle="""
SELECT user_id, event_id, event_type, value FROM (
  SELECT user_id, event_id, event_type, value,
         row_number() OVER (
           PARTITION BY user_id
           ORDER BY date_trunc('second', ts) DESC, event_id DESC
         ) AS rn
  FROM events
) WHERE rn = 1
""",
    tags=("streaming", "cdc"),
)
def q266_cdc_upsert_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC-upsert sink as a driver-checkable query: the
    events replay feeds ``foreach_batch_versioned_upsert`` — per
    microbatch, last-write-wins dedup then keyed MERGE into a
    time-travelable VersionedTable (one snapshot per microbatch, the
    foreachBatch+MERGE pattern production lakehouses run; Iceberg MERGE
    in the gated native path, identical call shape). Final table state
    must equal the batch latest-row-per-user — ties at the truncated
    second broken by event_id on both sides, enforced via the sink's
    ``precedence=(ts_sec, event_id)`` apply-if-newer merge so the
    winner is the same no matter how the replay chunked the stream
    into microbatches (arrival-order LWW only coincides with event
    order while the replay happens to deliver ids monotonically — a
    fixture property, not a contract). The lifecycle API was
    pytest-proven (test_foreach_batch_versioned_upsert); this entry
    puts the end state under the driver's hash."""
    from ..versioning import VersionedTable, session_fixture_dir

    d = session_fixture_dir(spark, "q266_cdc")
    vt = VersionedTable(spark, os.path.join(d, "state"))
    s = (
        jobs.with_watermark(_stream(spark, sf_dir))
        .withColumn("ts_sec", ts_sec("ts"))
        .select("user_id", "event_id", "event_type", "value", "ts_sec")
    )
    jobs.foreach_batch_versioned_upsert(
        s,
        vt,
        ["user_id"],
        os.path.join(d, "ckpt"),
        precedence=["ts_sec", "event_id"],
    )
    return vt.read().select("user_id", "event_id", "event_type", "value")


@register(
    "q272_stream_lakehouse_rollup",
    oracle="""
SELECT event_type,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS VARCHAR)
    AS total_value
FROM events GROUP BY event_type
""",
    tags=("streaming", "lakehouse", "matview"),
)
def q272_stream_lakehouse_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full lakehouse loop as ONE driver-hashed query: stream →
    exactly-once versioned append (one snapshot per microbatch,
    redelivery skipped by batch-id tag) → per-microbatch INCREMENTAL
    materialized-view refresh (each refresh aggregates only
    ``changes()`` — the new files — and merges into the stored state;
    the table is never rescanned). After the 5-microbatch replay the
    view must equal the from-scratch batch aggregate — which is
    exactly what the oracle computes. Fails loudly if the view ends
    stale or any refresh fell back to a full rebuild (the
    one-refresh-per-source-version invariant).

    At 100 TB/day this is THE ingestion architecture the engine is
    for: per-batch cost O(|batch| + |group keys|), aggregate queryable
    at microbatch latency, the table — not the stream — the source of
    truth (a failed refresh just leaves staleness() > 0 for the next
    batch to catch up)."""
    from ..matview import IncrementalAggView, Measure
    from ..versioning import VersionedTable, session_fixture_dir

    d = session_fixture_dir(spark, "q272_rollup")
    vt = VersionedTable(spark, os.path.join(d, "events_table"))
    mv = IncrementalAggView(
        spark,
        vt,
        os.path.join(d, "rollup"),
        group_by=["event_type"],
        measures=[
            Measure("n_events", "count"),
            Measure("total_value", "sum", F.col("value").cast("decimal(18,2)")),
        ],
    )
    jobs.foreach_batch_append_with_rollup(
        _stream(spark, sf_dir), vt, mv, os.path.join(d, "ckpt")
    )
    if mv.staleness() != 0:
        raise RuntimeError(f"rollup ended stale: {mv.staleness()} versions behind")
    n_appends = sum(
        1 for op in vt.op_log() if op.startswith("stream-append:")
    )
    n_refresh = sum(
        1 for op in mv.state.op_log() if op.startswith("refresh:")
    )
    if n_refresh != n_appends:
        raise RuntimeError(
            f"non-incremental refresh path taken: {n_refresh} refreshes "
            f"for {n_appends} appends"
        )
    return mv.read().select(
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("total_value").cast("decimal(38,2)").cast("string").alias(
            "total_value"
        ),
    )


if jobs.HAVE_TWS_RUNTIME:
    # transformWithStateInPandas twin of q77 (VERDICT r05 ask #3a):
    # typed-ValueState processor, same running totals, SAME batch
    # oracle. Registration is capability-gated — this container ships
    # no protobuf, so here the twin stays out of the registry (a
    # protobuf-less runtime cannot start the tws state server); where
    # the runtime exists it self-registers and earns its own hash row.
    @register(
        "q286_stream_tws_totals",
        oracle="""
SELECT user_id, COUNT(*) AS events_seen FROM events GROUP BY user_id
""",
        tags=("streaming",),
    )
    def q286_stream_tws_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
        """#77 on the Spark 4 ``transformWithStateInPandas`` API: the
        typed-state twin of q77's applyInPandasWithState kernel,
        executed across the same multi-microbatch replay and collapsed
        the same way — one oracle proves both stateful APIs."""
        out = jobs.run_to_memory(
            jobs.stateful_user_totals_tws(
                jobs.with_watermark(_stream(spark, sf_dir))
            ),
            output_mode="update",
        )
        return out.groupBy("user_id").agg(
            F.max("events_seen").alias("events_seen")
        )


@register(
    "q290_stream_session_rollup",
    oracle=_session_oracle(),
    tags=("streaming", "lakehouse", "matview"),
)
def q290_stream_session_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q272's lakehouse loop for NON-ALIGNED windows (VERDICT r06 ask
    #4b): stream → exactly-once versioned append → per-microbatch
    incremental SESSIONIZATION refresh (``matview.
    IncrementalSessionView`` — each refresh sessionizes only
    ``changes()`` and interval-merges fragments into the stored
    per-user session state; sessions that straddle microbatch
    boundaries merge on arrival, the thing no group-key rollup can
    express). After the 5-microbatch replay the state must equal the
    from-scratch batch sessionization — the SAME lag/cumulative-flag
    oracle that q75/q75c attest, so stream == incremental-view ==
    batch, transitively. Fails loudly on staleness or any full-rebuild
    refresh, like q272.

    At 100 TB/day: per-batch cost is O(|batch| + contested-user
    state); the state table holds one row per session, not per event —
    sessionization at microbatch latency without ever rescanning the
    event log."""
    from ..matview import IncrementalSessionView
    from ..versioning import VersionedTable, session_fixture_dir

    d = session_fixture_dir(spark, "q290_sess")
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
        jobs.with_watermark(_stream(spark, sf_dir))
        .withColumn("tsec", ts_sec("ts"))
        .select("user_id", "tsec", "value")
    )
    jobs.foreach_batch_append_with_rollup(s, vt, sv, os.path.join(d, "ckpt"))
    if sv.staleness() != 0:
        raise RuntimeError(f"session view ended stale: {sv.staleness()}")
    n_appends = sum(
        1 for op in vt.op_log() if op.startswith("stream-append:")
    )
    n_refresh = sum(
        1 for op in sv.state.op_log() if op.startswith("refresh:")
    )
    if n_refresh != n_appends:
        raise RuntimeError(
            f"non-incremental refresh path taken: {n_refresh} refreshes "
            f"for {n_appends} appends"
        )
    return sv.read().select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
        F.col("total_value").cast("string").alias("total_value"),
    )


@register(
    "q324_stream_bitmask_profile",
    oracle="""
WITH m AS (
  SELECT user_id,
    CAST(bit_or(CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
                WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8 ELSE 16 END)
         AS BIGINT) AS mask
  FROM events GROUP BY user_id
)
SELECT mask, CAST(COUNT(*) AS BIGINT) AS n_users
FROM m GROUP BY mask
""",
    tags=("streaming", "behavioral"),
)
def q324_stream_bitmask_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q311's behavioral bitmask as STREAMING state: bit_or is as
    mergeable as a sum, so the per-user lifetime event-type set
    accumulates in 8 bytes of state per user across microbatches —
    the O(1)-state streaming alternative to collect_set aggregations
    whose state grows with history. Replayed over 5 microbatches in
    complete mode; the final mask census must equal the batch oracle
    (#80 batch-equivalence applied to bitwise aggregation state)."""
    s = jobs.with_watermark(_stream(spark, sf_dir)).selectExpr(
        "user_id",
        "CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2 "
        "WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8 ELSE 16 END AS m",
    )
    masks = s.groupBy("user_id").agg(
        F.expr("bit_or(m)").cast("bigint").alias("mask")
    )
    out = jobs.run_to_memory(masks, output_mode="complete")
    return out.groupBy("mask").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )


@register(
    "q333_stream_reorder_sessions",
    oracle=_session_oracle(),
    tags=("streaming", "matview"),
)
def q333_stream_reorder_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-correctness differential for the session rollup
    (VERDICT r07 ask #5): the SAME lakehouse loop as q290 — stream →
    exactly-once versioned append → per-microbatch incremental
    sessionization — but fed an ADVERSARIALLY SCRAMBLED replay: rows
    land in microbatches by salted hash, not time, so fragments
    arrive maximally disordered (a session's end before its start;
    late fragments bridging two sessions the state table already
    holds as separate rows). The watermark delay is set beyond the
    fixture's full span — the permitted-lateness regime, where the
    contract says NOTHING may be dropped and the final state must be
    bit-equal to the calm time-ordered batch answer; the oracle is
    q75/q290's batch sessionization SQL, so a hash row here attests
    order-insensitivity of the whole loop (the property q290's
    order-preserving replay could not see). Beyond-watermark DROP
    semantics stay attested by q184's census; the reorder fuzz pytest
    replays further salts and chunk counts.

    Scale shape: identical to q290 — per-batch cost O(|batch| +
    contested-user state); disorder only changes how often the
    interval-merge path fires, never its per-batch bound."""
    from ..matview import IncrementalSessionView
    from ..versioning import VersionedTable, session_fixture_dir

    d = session_fixture_dir(spark, "q333_reorder")
    replay = jobs.prepare_scrambled_replay_dir(
        spark, sf_dir, os.path.join(d, "replay"), n_chunks=5, salt="q333-s0"
    )
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    stream = jobs.read_events_stream(spark, replay)
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
        jobs.with_watermark(stream, "1080 hours")  # ≥ fixture span
        .withColumn("tsec", ts_sec("ts"))
        .select("user_id", "tsec", "value")
    )
    jobs.foreach_batch_append_with_rollup(s, vt, sv, os.path.join(d, "ckpt"))
    if sv.staleness() != 0:
        raise RuntimeError(f"session view ended stale: {sv.staleness()}")
    return sv.read().select(
        "user_id",
        F.col("session_start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
        F.col("total_value").cast("string").alias("total_value"),
    )


@register(
    "q395_stream_ohlc_replay",
    oracle="""
WITH pts AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
    CAST(round(value * 100) AS BIGINT) AS cents,
    CAST(epoch(date_trunc('second', ts)) AS BIGINT) * 1073741824 + event_id
      AS ok
  FROM events
)
SELECT day, event_type,
  CAST(min_by(cents, ok) AS BIGINT) AS open_cents,
  CAST(MAX(cents) AS BIGINT) AS high_cents,
  CAST(MIN(cents) AS BIGINT) AS low_cents,
  CAST(max_by(cents, ok) AS BIGINT) AS close_cents,
  CAST(COUNT(*) AS BIGINT) AS n_events
FROM pts GROUP BY day, event_type
""",
    tags=("streaming",),
)
def q395_stream_ohlc_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC candlesticks — the incremental twin of q35b's
    batch resample, run as a genuine multi-microbatch replay: per
    (day, event_type), open/high/low/close of the event value, where
    open/close ride ``min_by``/``max_by`` on one exact integer
    event-order key (second-epoch·2³⁰ + event_id). The point being
    attested: OHLC state is MERGEABLE (min/max/min_by/max_by are all
    commutative-associative aggregates), so the stream can consume the
    feed in any microbatch chunking and the watermark-closed windows
    still equal the batch answer — which is exactly what the DuckDB
    batch oracle checks. Per-window state is five scalars: a 100 TB
    day of ticks folds map-side into kilobytes of candle state."""
    s = jobs.with_watermark(_stream(spark, sf_dir))
    pts = s.select(
        F.col("ts"),
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        (
            F.unix_timestamp(ts_sec("ts")).cast("bigint") * 1073741824
            + F.col("event_id")
        ).alias("ok"),
    )
    agg = pts.groupBy(
        F.window("ts", "1 day").alias("w"), "event_type"
    ).agg(
        F.min_by("cents", "ok").cast("bigint").alias("open_cents"),
        F.max("cents").cast("bigint").alias("high_cents"),
        F.min("cents").cast("bigint").alias("low_cents"),
        F.max_by("cents", "ok").cast("bigint").alias("close_cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    out = jobs.run_to_memory(agg)
    return out.select(
        F.col("w.start").cast("date").alias("day"),
        "event_type",
        "open_cents",
        "high_cents",
        "low_cents",
        "close_cents",
        "n_events",
    )


@register(
    "q412_stream_cdc_netting_replay",
    oracle="""
WITH ops AS (
  SELECT user_id,
    CASE event_type WHEN 'signup' THEN 'insert'
                    WHEN 'error' THEN 'delete'
                    ELSE 'update' END AS op,
    CAST(round(value * 100) AS BIGINT) AS cents,
    CAST(epoch(date_trunc('second', ts)) AS BIGINT) * 1073741824 + event_id
      AS ok
  FROM events
), keyed AS (
  SELECT user_id,
    min_by(op, ok) AS first_op,
    max_by(op, ok) AS last_op,
    max_by(cents, ok) AS last_cents
  FROM ops GROUP BY user_id
), net AS (
  SELECT user_id,
    CASE WHEN first_op = 'insert' AND last_op = 'delete' THEN 'cancelled'
         WHEN first_op = 'insert' THEN 'net_insert'
         WHEN last_op = 'delete' THEN 'net_delete'
         ELSE 'net_update' END AS net_op,
    last_cents
  FROM keyed
)
SELECT net_op, CAST(COUNT(*) AS BIGINT) AS n_keys,
  CAST(SUM(CASE WHEN net_op IN ('net_insert', 'net_update')
           THEN last_cents ELSE 0 END) AS BIGINT) AS net_cents
FROM net GROUP BY net_op
""",
    tags=("streaming", "cdc"),
)
def q412_stream_cdc_netting_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL CDC netting as a replayed stream — q393's batch
    netting maintained microbatch by microbatch with TWO apply-if-
    newer versioned sinks over the same op stream: a LAST-state table
    (precedence = the event-order key; newest op/payload wins) and a
    FIRST-state table (precedence = the NEGATED key — 'newest by
    negative order' IS oldest, so the fork-lift trick turns the
    existing apply-if-newer merge into keep-oldest without new sink
    machinery). Each microbatch costs |batch| merge work; no op log is
    ever re-scanned — the property that makes netting deployable as a
    continuous pipeline. The final (first_op, last_op) join nets each
    key exactly like the batch rule, and the DuckDB oracle recomputes
    the census from the raw events — chunking-independence proven by
    the hash, with the q333 reorder fuzz covering adversarial
    arrival orders for this same sink family."""
    from ..versioning import VersionedTable, session_fixture_dir

    d = session_fixture_dir(spark, "q412_net")
    first_t = VersionedTable(spark, os.path.join(d, "first"))
    last_t = VersionedTable(spark, os.path.join(d, "last"))

    def ops_stream() -> DataFrame:
        s = jobs.with_watermark(_stream(spark, sf_dir))
        return s.select(
            "user_id",
            F.when(F.col("event_type") == "signup", "insert")
            .when(F.col("event_type") == "error", "delete")
            .otherwise("update")
            .alias("op"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
            (
                F.unix_timestamp(ts_sec("ts")).cast("bigint") * 1073741824
                + F.col("event_id")
            ).alias("ok"),
        ).withColumn("neg_ok", -F.col("ok"))

    jobs.foreach_batch_versioned_upsert(
        ops_stream(), last_t, ["user_id"],
        os.path.join(d, "ckpt_last"), precedence=["ok"],
    )
    jobs.foreach_batch_versioned_upsert(
        ops_stream(), first_t, ["user_id"],
        os.path.join(d, "ckpt_first"), precedence=["neg_ok"],
    )
    first = first_t.read().select(
        "user_id", F.col("op").alias("first_op")
    )
    last = last_t.read().select(
        "user_id", F.col("op").alias("last_op"),
        F.col("cents").alias("last_cents"),
    )
    net = first.join(last, "user_id").select(
        F.when(
            (F.col("first_op") == "insert") & (F.col("last_op") == "delete"),
            "cancelled",
        )
        .when(F.col("first_op") == "insert", "net_insert")
        .when(F.col("last_op") == "delete", "net_delete")
        .otherwise("net_update")
        .alias("net_op"),
        "last_cents",
    )
    return net.groupBy("net_op").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum(
            F.when(
                F.col("net_op").isin("net_insert", "net_update"),
                F.col("last_cents"),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("net_cents"),
    )
