"""Structured Streaming operators (SURVEY.md §2.10 #72-79).

Batch/stream parity by construction: every windowed aggregation here
calls the *same* expression builders as the batch twins in
``operators/events.py``, so the file-replay tests can assert
stream == batch — the only real oracle a stream has (#80).

Replay harness: the fixture parquet is re-chunked into several files in
event-time order and streamed with ``maxFilesPerTrigger=1`` +
``Trigger.AvailableNow`` — a deterministic multi-microbatch execution
in which watermarks actually advance and late rows actually drop.

Runner contract: every sink here runs its query through ``_run``, which
starts it with ``Trigger.AvailableNow`` (drain what the source holds,
then stop), pins the stateful-shuffle width to
``STREAM_STATE_PARTITIONS`` for the query's lifetime and restores the
session's width when it terminates (or fails), and blocks until the
query terminates. The foreachBatch sinks go through
``_for_each_batch``, which skips empty microbatches before their
per-batch step runs. The exactly-once appends (``_append_once``) tag
each commit with its microbatch id and skip a microbatch whose tag is
already in the table's snapshot log — a redelivery after a crash
between commit and checkpoint.

Scale posture (100 TB/day): these plans are the standard production
shapes — watermark-bounded state in per-key aggregates, dropDuplicates
state keyed by (event_id, event time) so the watermark evicts it (#76),
stream-static broadcast joins for dimension enrichment (#79), and an
``applyInPandasWithState`` Arrow-batched custom stateful operator
(#77). Sinks: parquet/Iceberg append with checkpointing (#22).
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
import uuid
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import (
    DataStreamWriter,
    StreamingQuery,
    StreamingQueryListener,
)
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import StatefulProcessor

# transformWithStateInPandas speaks protobuf to its state server; the
# capability is environment-dependent (protobuf is not shipped in every
# runtime). Gate fail-loud, like the Iceberg JAR in session.py.
try:
    from google.protobuf import descriptor as _pb_descriptor  # noqa: F401

    HAVE_TWS_RUNTIME = True
except ImportError:
    HAVE_TWS_RUNTIME = False
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from ..functions.compat import dec2, ts_sec
from ..io import SCHEMAS, load_table


def prepare_replay_dir(spark: SparkSession, sf_dir: str, out_dir: str, n_chunks: int = 5) -> str:
    """Split the events fixture into n time-ordered parquet chunks so a
    file-source stream replays it as multiple microbatches.

    Fully distributed (round-2 fix: the old version did
    ``orderBy(...).collect()`` — materializing the whole fixture on the
    driver, a scale-killer on any real event table):
    ``repartitionByRange`` range-partitions rows by event time across
    executors, ``spark_partition_id`` labels each range, and each chunk
    is written by a filter+write job. Chunks are written sequentially
    (oldest range first) so file modification times preserve replay
    order for the file-stream source. ``coalesce(1)`` per chunk keeps
    the fixture's one-file-per-microbatch shape; at production scale
    drop it and raise ``maxFilesPerTrigger`` instead."""
    # Replay chunks are written in the *logical* NTZ form regardless of
    # the source's physical ts precision (ns-era fixtures get rebuilt by
    # the batch loader) — the stream reader then needs no rebuild.
    ev = load_table(spark, sf_dir, "events")
    chunked = (
        ev.repartitionByRange(n_chunks, F.col("ts"), F.col("event_id"))
        .withColumn("chunk", F.spark_partition_id())
        .persist()
    )
    try:
        _write_chunks(chunked, out_dir, n_chunks)
    finally:
        chunked.unpersist()
    return out_dir


def _write_chunks(chunked: DataFrame, out_dir: str, n_chunks: int) -> None:
    """Write each ``chunk`` label of ``chunked`` as one parquet file
    under ``out_dir/chunk=<i>``, in label order: file modification
    times give the file-stream source its replay order."""
    for i in range(n_chunks):
        (
            chunked.filter(F.col("chunk") == i)
            .drop("chunk")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, f"chunk={i}"))
        )


def prepare_scrambled_replay_dir(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    n_chunks: int = 5,
    salt: str = "scramble-0",
) -> str:
    """ADVERSARIAL replay split (VERDICT r07 ask #5): chunks are
    assigned by salted hash of event_id, NOT by event time — so every
    microbatch interleaves rows from the whole time range and
    downstream stateful operators see worst-case disordered delivery
    (late fragments that bridge two already-stored sessions, session
    starts arriving after their ends, …). ``prepare_replay_dir``'s
    time-ordered split can never exercise those merge paths.

    Deterministic per (fixture, salt): same scramble every run, so
    differential results are replayable. The build ASSERTS the
    scramble is non-vacuous — at least two chunks' time ranges must
    overlap (they always do for hash chunking; the guard catches a
    refactor quietly restoring time order, the q326 vacuous-fixture
    lesson applied to replays)."""
    ev = load_table(spark, sf_dir, "events")
    chunked = ev.withColumn(
        "chunk",
        F.pmod(F.xxhash64(F.col("event_id"), F.lit(salt)), F.lit(n_chunks)),
    ).persist()
    try:
        _write_chunks(chunked, out_dir, n_chunks)
        ranges = (
            chunked.groupBy("chunk")
            .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
            .collect()
        )
    finally:
        chunked.unpersist()
    overlaps = sum(
        1
        for a in ranges
        for b in ranges
        if a.chunk < b.chunk and a.lo < b.hi and b.lo < a.hi
    )
    if overlaps == 0:
        raise RuntimeError(
            "scrambled replay degenerated to a time-ordered split — "
            "the reorder differential would be vacuous"
        )
    return out_dir


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream of events (#22 source): reads the logical NTZ
    schema — replay dirs are always written in that form by
    ``prepare_replay_dir``."""
    reader = (
        spark.readStream.schema(SCHEMAS["events"])
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("recursiveFileLookup", "true")
    )
    return reader.parquet(path)


def with_watermark(events: DataFrame, delay: str = "2 hours") -> DataFrame:
    """Event-time watermark (#72): bounds all downstream state; rows
    older than max(event time) - delay are dropped (#78).

    Spark only accepts TIMESTAMP (LTZ) as an event-time column, so the
    NTZ ts is cast here (and truncated to seconds — the engine-wide
    events convention); window outputs cast back to NTZ — an exact round
    trip under the engine's pinned UTC session timezone. The window
    expressions downstream reference this exact column, which is what
    lets append mode recognize the aggregation as watermarked."""
    return events.withColumn(
        "ts", ts_sec("ts").cast("timestamp")
    ).withWatermark("ts", delay)


def tumbling_agg(events: DataFrame) -> DataFrame:
    """Streaming twin of q73_tumbling_window (#73)."""
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec2("value")).cast("decimal(38,2)").cast("string").alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_agg(events: DataFrame) -> DataFrame:
    """Streaming twin of q74_sliding_window (#74)."""
    return (
        events.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec2("value")).cast("decimal(38,2)").cast("string").alias("total_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


def session_agg(events: DataFrame) -> DataFrame:
    """Streaming twin of q75_session_window (#75): session_window state
    merges adjacent gaps; watermark closes sessions."""
    return (
        events.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec2("value")).cast("decimal(38,2)").cast("string").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def streaming_dedup(events: DataFrame) -> DataFrame:
    """Streaming dedup (#76): exactly-once on event_id with watermark-
    bounded state. The watermark column ``ts`` is part of the key —
    Spark evicts a dedup key only once the watermark passes its event
    time, so keyed on event_id alone the state would hold every id
    ever seen. A redelivered row carries the same ``ts`` (truncated to
    seconds by ``with_watermark``), so it still drops; one arriving
    behind the watermark is dropped as late (#78)."""
    return events.dropDuplicates(["event_id", "ts"])


def stream_static_join(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static dimension join (#79): the static side is broadcast
    to every microbatch — no state, no shuffle of the stream."""
    return events.join(F.broadcast(dim), "user_id", "left")


_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("total", DoubleType())]
)
_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("events_seen", LongType()),
        StructField("value_sum", DoubleType()),
    ]
)


def _running_user_totals(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState kernel (#77): per-user running event count
    and value sum, persisted across microbatches in GroupState."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "events_seen": [n], "value_sum": [round(total, 2)]}
    )


_SEQ_STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("n_matches", LongType()),
        StructField("armed", LongType()),
    ]
)
_SEQ_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("n_matches", LongType()),
    ]
)


def _sequence_dfa(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Streaming CEP kernel: the view(click)*purchase journey matcher
    as a 2-state DFA persisted in GroupState. The batch twin (q177)
    renders each user's WHOLE event string and regex-scans it; a
    stream cannot hold unbounded strings, so the automaton carries the
    only suffix information the pattern needs — one "armed" bit (an
    unbroken view→clicks run is open) plus the two counters. PERSISTED
    state per key is constant forever; transient per-call memory is
    bounded by one key's single-microbatch row count (the chunks must
    be concatenated for a global event-time sort — cap it upstream
    with maxFilesPerTrigger / maxOffsetsPerTrigger, the standard
    microbatch sizing knobs).

    Equivalence to leftmost non-overlapping regex matching: "armed"
    ⟺ some earlier view is followed only by clicks; the first
    purchase while armed is exactly where the regex closes its
    leftmost match, and both reset (non-overlap) after it. Any other
    event type kills every open run in both semantics."""
    n, m, armed = state.get if state.exists else (0, 0, 0)
    # One key's microbatch arrives as MULTIPLE Arrow chunks (split at
    # arrow.maxRecordsPerBatch) with no cross-chunk order guarantee —
    # concatenate first, sort once; per-chunk sorting would interleave
    # out-of-order symbols and corrupt the DFA.
    frames = [pdf for pdf in pdfs if len(pdf)]
    if frames:
        ordered = pd.concat(frames, ignore_index=True).sort_values(
            ["ts", "event_id"]
        )
        # Symbol = first character, mirroring q177's
        # substring(event_type, 1, 1). The fixture's five event types
        # have distinct initials (view/click/purchase/add_to_cart/
        # remove_from_cart); et[:1] (not et[0]) keeps an empty or null
        # string a plain no-match instead of an IndexError.
        for et in ordered["event_type"]:
            n += 1
            c = (et or "")[:1]
            if c == "v":
                armed = 1
            elif c == "c":
                pass
            elif c == "p":
                if armed:
                    m += 1
                armed = 0
            else:
                armed = 0
    state.update((n, m, armed))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "n_matches": [m]}
    )


def stateful_sequence_matcher(events: DataFrame) -> DataFrame:
    """Streaming sequence-pattern detection (CEP): per-user DFA over
    the event stream via applyInPandasWithState. In-batch order is
    (ts, event_id); cross-batch order holds because the replay chunks
    are range-partitioned on the same key (prepare_replay_dir) — the
    same in-order-per-key delivery assumption any production CEP
    topology establishes upstream (e.g. Kafka partitioning by key)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _sequence_dfa,
        outputStructType=_SEQ_OUT_SCHEMA,
        stateStructType=_SEQ_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful per-key processing (#77) via Arrow-batched
    applyInPandasWithState — the Spark-idiomatic 'custom operator'
    escape hatch when built-in windows can't express the state
    machine."""
    return events.groupBy("user_id").applyInPandasWithState(
        _running_user_totals,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# Stateful-shuffle width of every stream: 8 store instances per
# stateful operator, sized to the replay fixtures' KB-scale state.
STREAM_STATE_PARTITIONS = 8


@contextlib.contextmanager
def _stream_state_partitions(spark: SparkSession):
    """Pin the stateful-shuffle width for one streaming query (r11,
    guide §2.2/§1 — measure first).

    A stream's shuffle-partition count is not a batch tuning knob: it
    is the number of LONG-LIVED STATE STORE INSTANCES per stateful
    operator (a stream-stream join keeps FOUR stores per partition),
    it is frozen into the checkpoint at the first microbatch, and AQE
    never coalesces stateful exchanges — so inheriting the session's
    batch width silently turns "more cores" into "more per-batch state
    commits". Production sizes it to expected state volume/throughput
    (Spark's own guidance); here it is ``STREAM_STATE_PARTITIONS``.
    Measured on q122's stream-stream join at sf0.01 (5-microbatch
    replay, local[32]): 32 partitions = 128 store instances, commitTimeMs
    58 s summed, 16-21 s wall — vs 8 partitions = 32 instances, 1.9 s
    commit, 4.7 s wall; 4 and 2 partitions give only 0.4-0.7 s more.
    Those commits cost per checkpoint FILE, not per byte: without
    native libhadoop every file the local filesystem creates forks a
    ``chmod`` (and, through the FileContext checkpoint manager, a
    ``readlink`` per link-aware status — the local session profile now
    uses the FileSystem manager instead), so the commit wall scales
    with the store count. The conf is restored
    after the query terminates, so batch plans in the same session keep
    the session's width (the hostile sweeps' overrides stay in force
    for everything except stream execution, which a real deployment
    pins per-stream anyway)."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(STREAM_STATE_PARTITIONS))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _run(writer: DataStreamWriter) -> StreamingQuery:
    """Start ``writer``'s query with Trigger.AvailableNow under the
    width pin and block until it terminates; returns the terminated
    query. The only place a stream in this module starts."""
    # a DataStreamWriter keeps the session of the frame it was made from
    with _stream_state_partitions(writer._spark):
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    return q


def _for_each_batch(
    sdf: DataFrame, checkpoint: str, step: Callable[[DataFrame, int], None]
) -> None:
    """Run ``step(batch_df, batch_id)`` on every non-empty microbatch
    of ``sdf`` through a checkpointed foreachBatch sink."""

    def run_step(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            step(batch_df, batch_id)

    _run(
        sdf.writeStream.foreachBatch(run_step).option(
            "checkpointLocation", checkpoint
        )
    )


def _append_once(versioned, df: DataFrame, batch_id: int) -> None:
    """Append ``df`` to ``versioned`` as one snapshot tagged with
    ``batch_id``, unless that tag is already committed (a redelivered
    microbatch) — Iceberg's own streaming-sink exactly-once scheme.
    Runs no Spark job of its own, and decodes no manifest the table
    object has already seen (``op_log``)."""
    op = f"stream-append:{batch_id}"
    if op not in versioned.op_log():
        versioned.write(df, mode="append", _op=op)


def _latest_per_key(df: DataFrame, on: list[str], order: list[str]) -> DataFrame:
    """One row per ``on`` key: the first by DESC ``order`` (a MERGE
    source must have unique keys)."""
    w = Window.partitionBy(*on).orderBy(*[F.col(c).desc() for c in order])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _memory_run(sdf: DataFrame, output_mode: str) -> tuple[DataFrame, StreamingQuery]:
    """Run ``sdf`` into a memory sink under a fresh query name; returns
    the materialized table and the terminated query."""
    name = f"stream_mem_{uuid.uuid4().hex}"
    q = _run(sdf.writeStream.format("memory").queryName(name).outputMode(output_mode))
    return sdf.sparkSession.table(name), q


def run_to_memory(sdf: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Execute a streaming frame to completion into a memory sink;
    returns the materialized result table."""
    return _memory_run(sdf, output_mode)[0]


def foreach_batch_upsert(
    sdf: DataFrame,
    manager,
    table: str,
    on: list[str],
    checkpoint: str,
):
    """Streaming upsert sink: foreachBatch + MERGE per microbatch — the
    standard CDC-into-lakehouse pattern (Iceberg MERGE in production;
    identical call path on the parquet fallback). foreachBatch gives
    batch-API power inside a stream; the checkpoint makes redelivered
    microbatches idempotent *because the write is a keyed MERGE*, not a
    blind append. Last write wins per key within a batch."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        deduped = _latest_per_key(batch_df, on, ["ts", "event_id"])
        manager.merge_upsert(table, deduped, on=on)

    _for_each_batch(sdf, checkpoint, upsert)


def foreach_batch_versioned_upsert(
    sdf: DataFrame,
    versioned,
    on: list[str],
    checkpoint: str,
    precedence: list[str] | None = None,
):
    """Streaming CDC into a time-travelable table WITHOUT the Iceberg
    runtime: foreachBatch + ``VersionedTable.merge`` — every microbatch
    commits a new snapshot, so the table's state at any point of the
    stream is auditable/rewindable (versioning.py). Same keyed-MERGE
    idempotency story as foreach_batch_upsert: redelivered microbatches
    re-merge to the same state.

    ``precedence``: column names whose DESC order defines "newest" (must
    be a per-key TOTAL order, e.g. a timestamp plus a unique id — if a
    stored and an incoming row ever tie on every precedence column with
    different payloads, row_number picks an arbitrary winner and the
    final state is no longer replay-deterministic; set env
    ``SPARK_GRAFT_VALIDATE_PRECEDENCE=1`` to fail loud on such ties in
    the contested set). When given, the merge is APPLY-IF-NEWER across
    microbatches: the stored row only loses to an incoming row that
    outranks it, so the final state is independent of how the stream was
    chunked into batches —
    without it, a key updated in two batches is last-WRITE-wins by
    arrival order, which matches event order only if the source is
    globally ordered (review finding, round 5: a later batch carrying
    an earlier event silently overwrote the newer row). Default keeps
    the raw (ts, event_id) within-batch dedup + arrival-order
    cross-batch semantics for append-time-ordered sources."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        deduped = _latest_per_key(batch_df, on, precedence or ["ts", "event_id"])
        if versioned.current_version() is None:
            versioned.write(deduped, mode="append")
        elif precedence is None:
            versioned.merge(deduped, on=on)
        else:
            # apply-if-newer: the newer-wins contest now lives INSIDE
            # VersionedTable.merge (one table read instead of the old
            # read-contest-remerge double pass — round-5 review ask);
            # ties on the full precedence tuple deterministically keep
            # the stored row, so redelivery is an exact no-op. The
            # SPARK_GRAFT_VALIDATE_PRECEDENCE tie validator also lives
            # in merge.
            versioned.merge(deduped, on=on, precedence=precedence)

    _for_each_batch(sdf, checkpoint, upsert)


def write_stream_parquet(sdf: DataFrame, path: str, checkpoint: str, output_mode: str = "append"):
    """Streaming sink (#22): parquet append with checkpointing (swap
    format('iceberg') when the runtime is on the classpath — identical
    call shape)."""
    _run(
        sdf.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    return path


def foreach_batch_versioned_append(
    sdf: DataFrame,
    versioned,
    checkpoint: str,
):
    """Exactly-once streaming APPEND into a versioned table — the
    immutable-log ingest shape (event streams, crawled documents) where
    rows are facts, not upserts: one tagged snapshot per microbatch
    (``_append_once``). Because every commit is a pure append,
    downstream consumers can read ``versioned.changes(from_v)`` and
    process only the delta."""
    _for_each_batch(sdf, checkpoint, functools.partial(_append_once, versioned))


def foreach_batch_validated_append(
    sdf: DataFrame,
    versioned,
    quarantine,
    rules,
    checkpoint: str,
):
    """Validated streaming ingest: the DQ rule suite (operators/dq.py)
    gates every microbatch — rows passing ALL rules commit to the main
    versioned table, violating rows commit to a quarantine table with
    the names of the rules they broke. Both sides are exactly-once
    appends (``_append_once``); an empty side commits nothing.

    The split is two filters over one row-level violation bitmap
    (computed once as array_compact of per-rule CASE markers — a map
    stage, no extra scan, no Python). This is the ingest shape that
    keeps a 100 TB/day pipeline queryable: bad vendor drops land in
    quarantine with a reason, never silently into the corpus and never
    as a dead job at 3am (FAILFAST's failure mode)."""

    def split(batch_df: DataFrame, batch_id: int) -> None:
        markers = F.array_compact(
            F.array(
                *[
                    F.when(
                        ~F.coalesce(r.satisfied, F.lit(False)), F.lit(r.name)
                    )
                    for r in rules
                ]
            )
        )
        tagged = batch_df.withColumn("__broken", markers)
        clean = tagged.filter(F.size("__broken") == 0).drop("__broken")
        bad = tagged.filter(F.size("__broken") > 0).withColumn(
            "violated_rules", F.array_join("__broken", ",")
        ).drop("__broken")
        for table, rows in ((versioned, clean), (quarantine, bad)):
            if not rows.isEmpty():
                _append_once(table, rows, batch_id)

    _for_each_batch(sdf, checkpoint, split)


def _attribution_sides(
    events: DataFrame, window_minutes: int
) -> tuple[DataFrame, DataFrame, Column]:
    """The two watermarked sides of the click→purchase attribution
    joins and their join condition: same user, purchase within
    ``window_minutes`` after the click. Both watermarks plus the
    event-time bound are what let Spark garbage-collect join state: a
    buffered click can be dropped once the purchase-side watermark
    passes click_ts + window (state is bounded by watermark delay +
    join window, never by stream length). Self-join of one source
    stream: Spark plans two independent scans of the file source —
    fine; at scale the two sides are usually distinct topics anyway."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            ts_sec("ts").cast("timestamp").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            ts_sec("ts").cast("timestamp").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    cond = (
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {window_minutes} MINUTES")
        )
    )
    return clicks, purchases, cond


def stream_stream_attribution(events: DataFrame, window_minutes: int = 30) -> DataFrame:
    """Stream-stream inner join: each click joined to the purchases the
    same user makes within ``window_minutes`` after it — ad-attribution,
    the canonical two-stream correlation (sides, watermarks and state
    bound: ``_attribution_sides``)."""
    clicks, purchases, cond = _attribution_sides(events, window_minutes)
    return clicks.join(purchases, cond).select(
        "user_id",
        "click_id",
        "purchase_id",
        (F.col("purchase_ts").cast("long") - F.col("click_ts").cast("long")).alias(
            "lag_seconds"
        ),
    )


class _RunningTotalsProcessor(StatefulProcessor):
    """transformWithStateInPandas processor (#77, Spark 4 API): the same
    per-user running totals as ``_running_user_totals``, expressed
    against the typed-state-handle API (ValueState instead of a single
    opaque GroupState tuple) that Structured Streaming is migrating
    custom stateful operators to. Kept semantically identical to the
    applyInPandasWithState kernel so the two register as twins and the
    one batch oracle checks both."""

    def init(self, handle) -> None:
        self._totals = handle.getValueState("totals", "n long, total double")

    def handleInputRows(self, key, rows, timer_values):
        if self._totals.exists():
            n, total = self._totals.get()
        else:
            n, total = 0, 0.0
        for pdf in rows:
            n += len(pdf)
            total += float(pdf["value"].sum())
        self._totals.update((n, float(total)))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "events_seen": [n],
                "value_sum": [round(total, 2)],
            }
        )

    def handleInitialState(self, key, initial_state, timer_values) -> None:
        raise NotImplementedError("no initial state wired for this job")

    def handleExpiredTimer(self, key, timer_values, expired_timer_info):
        return iter(())

    def close(self) -> None:
        pass


def stateful_user_totals_tws(events: DataFrame) -> DataFrame:
    """#77 on the Spark 4 ``transformWithStateInPandas`` API (typed
    ValueState handles, timer support, initial-state hook) — the
    successor to applyInPandasWithState for custom stateful operators.
    Requires a protobuf-enabled runtime (``HAVE_TWS_RUNTIME``); raises
    loudly when absent instead of crashing the state server mid-query.
    """
    if not HAVE_TWS_RUNTIME:
        raise RuntimeError(
            "transformWithStateInPandas needs google.protobuf, which this "
            "runtime does not provide — use stateful_user_totals "
            "(applyInPandasWithState) instead"
        )
    return events.groupBy("user_id").transformWithStateInPandas(
        _RunningTotalsProcessor(),
        outputStructType=_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def foreach_batch_append_with_rollup(
    sdf: DataFrame,
    versioned,
    view,
    checkpoint: str,
):
    """Streaming ingest with a live incremental rollup: each microbatch
    (1) appends exactly-once into the versioned table
    (``_append_once``) and (2) advances the
    ``matview.IncrementalAggView`` built over it — so the aggregate is
    queryable at microbatch latency while only ever aggregating each
    batch's delta (``view.refresh()`` reads ``source.changes()``, never
    rescans the table).

    This is the full lakehouse loop — stream → snapshot log →
    incremental materialized aggregate — in one sink. Per-batch cost is
    O(|batch| + |state|); at 100 TB/day the state merge is the bounded
    term (group-key cardinality), which is the point of mergeable
    measures. If a refresh fails mid-batch the view simply stays stale
    (staleness() > 0) and the next batch's refresh catches up from the
    snapshot log — the table, not the stream, is the source of truth."""

    def step(batch_df: DataFrame, batch_id: int) -> None:
        _append_once(versioned, batch_df, batch_id)
        view.refresh()

    _for_each_batch(sdf, checkpoint, step)


def stream_stream_attribution_outer(
    events: DataFrame, window_minutes: int = 30
) -> DataFrame:
    """LEFT OUTER stream-stream join — the semantics inner join (above)
    cannot give: every click emits, matched rows as they match, and a
    click with NO purchase inside the window emits null-extended only
    after the purchase-side watermark passes ``click_ts + window`` (the
    state machine must *prove* absence before it can say null — that
    proof is the watermark). State bound is identical to the inner
    variant; the extra cost is only that unmatched state lives until
    the watermark, not until a match.

    Consumers must treat the tail of the stream as indeterminate: rows
    younger than (max event time − watermark delay − window) may still
    match later, so batch-equality checks (and any downstream exactness
    contract) apply only behind that horizon — see
    q146_stream_stream_left_outer for the filtered comparison."""
    clicks, purchases, cond = _attribution_sides(events, window_minutes)
    return clicks.join(purchases, cond, "left_outer").select(
        "user_id",
        "click_id",
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
        "purchase_id",
        (F.col("purchase_ts").cast("long") - F.col("click_ts").cast("long")).alias(
            "lag_seconds"
        ),
    )


def stream_stream_attribution_full(
    events: DataFrame, window_minutes: int = 30
) -> DataFrame:
    """FULL OUTER stream-stream join — completes the join matrix
    (inner ``stream_stream_attribution``, left outer ``_outer``): every
    click emits (matched or null-extended, as in left outer) AND every
    purchase with no click in the preceding ``window_minutes`` ALSO
    emits null-extended once the click-side watermark proves no click
    can still arrive. Orphan-purchase detection is what left outer
    cannot express. State bound is identical — both sides already keep
    their rows until the watermark; full outer only changes what is
    emitted at eviction. Same determinism horizon as the left variant:
    rows anchored younger than (max event time − delay − window −
    margin) are indeterminate; q264 filters both sides to the horizon
    before comparing against the batch full join."""
    clicks, purchases, cond = _attribution_sides(events, window_minutes)
    return clicks.join(purchases, cond, "full_outer").select(
        F.coalesce(F.col("user_id"), F.col("p_user_id")).alias("user_id"),
        "click_id",
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
        "purchase_id",
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
        (F.col("purchase_ts").cast("long") - F.col("click_ts").cast("long")).alias(
            "lag_seconds"
        ),
    )


class _ProgressCapture:
    """StreamingQueryListener that captures per-microbatch progress
    telemetry (rows read, processing rate, state-store size) — the
    observability feed a production stream exports to its metrics
    system. Held in driver memory here; at scale the same events go to
    a metrics sink, and their size is O(1) per microbatch regardless
    of data volume."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        # Every Terminated event id is BUFFERED rather than compared at
        # delivery: the listener bus is async and query_id is assigned
        # only after the query has terminated, so the query's own event
        # can arrive first — an at-delivery exact match would miss it
        # and burn the full drain timeout.
        self.terminated_ids: set[str] = set()
        # set once the query has run: only THIS query's Terminated event
        # counts (another session query terminating must not end the
        # drain wait)
        self.query_id: str | None = None

    @property
    def terminated(self) -> bool:
        return self.query_id is not None and self.query_id in self.terminated_ids

    def make(self):
        capture = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                capture.progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                # buffer the id; the drain loop checks membership once
                # query_id is known (see _ProgressCapture.terminated) —
                # a stale event for a prior query (different id) still
                # never ends the drain wait
                capture.terminated_ids.add(str(event.id))

        return _L()


def run_to_memory_with_metrics(
    sdf: DataFrame, output_mode: str = "complete"
) -> tuple[DataFrame, list[dict]]:
    """run_to_memory plus captured per-microbatch progress telemetry:
    returns (result frame, list of progress dicts — one per microbatch,
    each with numInputRows, batchId, stateOperators, durationMs). The
    listener-based pattern is how a production job wires throughput /
    state-size / watermark-lag alerting without touching the query."""
    spark = sdf.sparkSession
    cap = _ProgressCapture()
    listener = cap.make()
    spark.streams.addListener(listener)
    try:
        out, q = _memory_run(sdf, output_mode)
        cap.query_id = str(q.id)
        # The listener bus is async: the query having terminated does
        # not mean the last progress events reached Python yet. The
        # bus is FIFO, so once the Terminated event lands, every
        # Progress event before it has too — wait (bounded) for it.
        deadline = time.monotonic() + 30
        while not cap.terminated and time.monotonic() < deadline:
            time.sleep(0.05)
    finally:
        spark.streams.removeListener(listener)
    return out, cap.progress
