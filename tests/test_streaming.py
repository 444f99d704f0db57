"""Streaming tests (SURVEY §2.10, §5.2 Phase 5): multi-microbatch file
replay with availableNow; the oracle is batch equality (#80) plus state
invariants for dedup/stateful ops."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_iceberg_automation_spark.io import load_table
from aws_iceberg_automation_spark.registry import all_specs
from aws_iceberg_automation_spark.streaming import jobs
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def replay_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("events_replay"))
    return jobs.prepare_replay_dir(spark, SF_DIR, d, n_chunks=5)


@pytest.fixture(scope="module")
def stream(spark, replay_dir):
    def make():
        return jobs.read_events_stream(spark, replay_dir)

    return make


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _write_replay(spark, root, chunks) -> str:
    """Write each list of events rows as one replay chunk
    (``chunk=<i>``), in order; no fixture data needed."""
    import os

    from aws_iceberg_automation_spark.io import SCHEMAS

    for i, rows in enumerate(chunks):
        spark.createDataFrame(rows, SCHEMAS["events"]).coalesce(1).write.parquet(
            os.path.join(root, f"chunk={i}")
        )
    return root


def test_stream_is_streaming(stream):
    assert stream().isStreaming


def test_tumbling_stream_equals_batch(spark, stream):
    out = jobs.run_to_memory(
        jobs.tumbling_agg(jobs.with_watermark(stream()))
    )
    batch = all_specs()["q73_tumbling_window"].fn(spark, SF_DIR)
    cols = ["window_start", "event_type", "n_events", "total_value"]
    assert _rows(out, cols) == _rows(batch, cols)


def test_sliding_stream_equals_batch(spark, stream):
    out = jobs.run_to_memory(
        jobs.sliding_agg(jobs.with_watermark(stream()))
    )
    batch = all_specs()["q74_sliding_window"].fn(spark, SF_DIR)
    cols = ["window_start", "n_events", "total_value"]
    assert _rows(out, cols) == _rows(batch, cols)


def test_session_stream_equals_batch(spark, stream):
    out = jobs.run_to_memory(
        jobs.session_agg(jobs.with_watermark(stream()))
    )
    batch = all_specs()["q75_session_window"].fn(spark, SF_DIR)
    cols = ["user_id", "session_start", "session_end", "n_events", "total_value"]
    assert _rows(out, cols) == _rows(batch, cols)


def test_streaming_dedup(spark, stream):
    out = jobs.run_to_memory(
        jobs.streaming_dedup(jobs.with_watermark(stream())),
        output_mode="append",
    )
    n_unique = load_table(spark, SF_DIR, "events").select("event_id").distinct().count()
    assert out.select("event_id").distinct().count() == n_unique
    assert out.count() == n_unique


def test_stream_static_join(spark, stream):
    dim = (
        load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_seen"))
    )
    out = jobs.run_to_memory(
        jobs.stream_static_join(stream(), dim), output_mode="append"
    )
    total = load_table(spark, SF_DIR, "events").count()
    assert out.count() == total
    assert out.filter(F.col("first_seen").isNull()).count() == 0


def test_stateful_user_totals(spark, stream):
    out = jobs.run_to_memory(
        jobs.stateful_user_totals(jobs.with_watermark(stream())),
        output_mode="update",
    )
    # update-mode memory sink keeps every microbatch's emission; the
    # final state per user is the max events_seen — compare to batch.
    final = (
        out.groupBy("user_id")
        .agg(F.max("events_seen").alias("events_seen"))
        .collect()
    )
    batch = {
        r.user_id: r.n
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {r.user_id: r.events_seen for r in final} == batch


def test_late_data_dropped_beyond_watermark(spark, tmp_path_factory):
    """#78: rows older than watermark are discarded. Two replays —
    [early, latest] vs [early, latest, late-copies] — must emit the same
    append-mode window results: the late chunk lands behind the already-
    advanced watermark and is dropped."""
    import os

    from aws_iceberg_automation_spark.io import SCHEMAS

    raw = spark.read.schema(SCHEMAS["events"]).parquet(
        os.path.join(SF_DIR, "events.parquet")
    )
    rows = raw.orderBy("ts", "event_id").collect()
    early, latest = rows[:400], rows[-400:]
    late_copies = [
        type(r)(r.event_id + 1_000_000, r.ts, r.user_id, r.event_type, r.value, r.props)
        for r in rows[:50]
    ]

    def build(dirname, chunks):
        d = str(tmp_path_factory.mktemp(dirname))
        for i, chunk in enumerate(chunks):
            spark.createDataFrame(chunk, schema=raw.schema).coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(d, f"chunk={i}"))
        return d

    def run(path):
        s = jobs.read_events_stream(spark, path)
        out = jobs.run_to_memory(
            jobs.tumbling_agg(jobs.with_watermark(s, "2 hours")),
            output_mode="append",
        )
        return sorted(
            (r.window_start, r.event_type, r.n_events, r.total_value)
            for r in out.collect()
        )

    on_time = run(build("replay_ontime", [early, latest]))
    with_late = run(build("replay_late", [early, latest, late_copies]))
    assert on_time == with_late, "late rows leaked past the watermark"
    assert len(on_time) > 0  # append mode emitted the closed windows


def test_foreach_batch_upsert(spark, stream, tmp_path_factory):
    """Streaming MERGE sink: per-microbatch keyed upsert lands exactly
    the distinct user set, with the latest value winning."""
    from aws_iceberg_automation_spark.catalog import TableManager
    from aws_iceberg_automation_spark.tablespec import TableSpec

    mgr = TableManager(spark)
    loc = str(tmp_path_factory.mktemp("upsert_tbl"))
    mgr.create_table(
        TableSpec.from_dict(
            {
                "database": "stream_db",
                "table": "user_latest",
                "location": loc,
                "columns": [
                    {"name": "user_id", "type": "bigint"},
                    {"name": "event_id", "type": "bigint"},
                    {"name": "ts", "type": "timestamp"},
                    {"name": "value", "type": "double"},
                ],
            }
        )
    )
    ckpt = str(tmp_path_factory.mktemp("upsert_ckpt"))
    s = jobs.with_watermark(stream()).select("user_id", "event_id", "ts", "value")
    jobs.foreach_batch_upsert(s, mgr, "stream_db.user_latest", ["user_id"], ckpt)

    got = {r.user_id: r.event_id for r in mgr.table("stream_db.user_latest").collect()}
    ev = load_table(spark, SF_DIR, "events")
    latest = {
        r.user_id: r.event_id
        for r in ev.groupBy("user_id")
        .agg(F.max_by("event_id", F.struct("ts", "event_id")).alias("event_id"))
        .collect()
    }
    assert got == latest
    mgr.drop_namespace("stream_db", cascade=True)


def test_parquet_sink_checkpoint(spark, stream, tmp_path_factory):
    out_dir = str(tmp_path_factory.mktemp("sink_out"))
    ckpt = str(tmp_path_factory.mktemp("sink_ckpt"))
    jobs.write_stream_parquet(
        jobs.streaming_dedup(jobs.with_watermark(stream())), out_dir, ckpt
    )
    written = spark.read.parquet(out_dir)
    assert written.count() == load_table(spark, SF_DIR, "events").count()
    # restart with same checkpoint: no duplicate output (exactly-once)
    jobs.write_stream_parquet(
        jobs.streaming_dedup(jobs.with_watermark(stream())), out_dir, ckpt
    )
    assert spark.read.parquet(out_dir).count() == written.count()


def test_foreach_batch_versioned_upsert(spark, stream, tmp_path_factory):
    """CDC into a versioned (time-travelable) table without Iceberg:
    each microbatch commits a snapshot; final state equals the batch
    latest-per-user, and earlier snapshots expose the partial state the
    stream had at that commit."""
    from aws_iceberg_automation_spark.versioning import VersionedTable

    vt = VersionedTable(spark, str(tmp_path_factory.mktemp("vt_upsert")))
    ckpt = str(tmp_path_factory.mktemp("vt_ckpt"))
    s = jobs.with_watermark(stream()).select("user_id", "event_id", "ts", "value")
    jobs.foreach_batch_versioned_upsert(s, vt, ["user_id"], ckpt)

    snaps = vt.snapshots()
    assert len(snaps) >= 2  # multiple microbatches committed
    got = {r.user_id: r.event_id for r in vt.read().collect()}
    ev = load_table(spark, SF_DIR, "events")
    latest = {
        r.user_id: r.event_id
        for r in ev.groupBy("user_id")
        .agg(F.max_by("event_id", F.struct("ts", "event_id")).alias("event_id"))
        .collect()
    }
    assert got == latest
    # history: the first snapshot holds a strict subset of the final keys
    first = vt.read(version=snaps[0].version)
    assert 0 < first.count() <= len(got)


def test_foreach_batch_versioned_append_incremental(spark, stream, tmp_path_factory):
    """End-to-end incremental pipeline: exactly-once streaming append
    into a versioned table, then a downstream consumer reads only the
    delta via changes(). Restart with the same checkpoint must commit
    nothing new (batch-id dedup), and the append-diff read must equal
    exactly the rows of the later snapshots."""
    from aws_iceberg_automation_spark.versioning import VersionedTable

    vt = VersionedTable(spark, str(tmp_path_factory.mktemp("vt_append")))
    ckpt = str(tmp_path_factory.mktemp("vt_append_ckpt"))
    cols = ["event_id", "user_id", "ts", "value"]
    jobs.foreach_batch_versioned_append(stream().select(*cols), vt, ckpt)

    snaps = vt.snapshots()
    assert len(snaps) >= 2
    assert all(s.op.startswith("stream-append:") for s in snaps)
    total = vt.read().count()
    assert total == load_table(spark, SF_DIR, "events").count()

    # delta read: everything after the first commit
    first_v = snaps[0].version
    delta = vt.changes(from_version=first_v)
    assert delta.count() == total - vt.read(version=first_v).count()
    # and the delta is disjoint from the first snapshot's rows
    first_ids = {r.event_id for r in vt.read(version=first_v).collect()}
    assert not ({r.event_id for r in delta.collect()} & first_ids)

    # restart = redelivery: same checkpoint, no new snapshots, no dupes
    jobs.foreach_batch_versioned_append(stream().select(*cols), vt, ckpt)
    assert len(vt.snapshots()) == len(snaps)
    assert vt.read().count() == total


def test_foreach_batch_validated_append(spark, stream, tmp_path_factory):
    """DQ-gated streaming ingest: clean and quarantined row counts must
    add up to the source, quarantine rows must carry the violated rule
    names, the main table must contain no violating row, and a restart
    must not double-commit either side."""
    from aws_iceberg_automation_spark.operators.dq import Rule
    from aws_iceberg_automation_spark.versioning import VersionedTable

    main = VersionedTable(spark, str(tmp_path_factory.mktemp("vt_main")))
    quar = VersionedTable(spark, str(tmp_path_factory.mktemp("vt_quar")))
    ckpt = str(tmp_path_factory.mktemp("vt_dq_ckpt"))
    rules = [
        Rule("value_under_300", F.col("value") < 300),
        Rule("type_in_domain", F.col("event_type").isin("click", "view", "purchase")),
    ]
    cols = ["event_id", "user_id", "ts", "event_type", "value"]
    jobs.foreach_batch_validated_append(
        stream().select(*cols), main, quar, rules, ckpt
    )

    src = load_table(spark, SF_DIR, "events")
    n_src = src.count()
    n_clean, n_bad = main.read().count(), quar.read().count()
    assert n_clean + n_bad == n_src
    assert n_bad > 0  # fixture has values >= 300 and non-domain event types
    # main side satisfies every rule
    assert main.read().filter(
        (F.col("value") >= 300)
        | ~F.col("event_type").isin("click", "view", "purchase")
    ).count() == 0
    # quarantine carries reasons
    reasons = {r.violated_rules for r in quar.read().select("violated_rules").distinct().collect()}
    assert all(reasons)
    assert any("value_under_300" in x for x in reasons)

    # restart = redelivery: nothing double-commits
    jobs.foreach_batch_validated_append(
        stream().select(*cols), main, quar, rules, ckpt
    )
    assert main.read().count() == n_clean
    assert quar.read().count() == n_bad


def test_stream_stream_join_equals_batch(spark, stream):
    """Two-stream attribution join over a replayed stream must produce
    exactly the batch join's pairs (state buffered across microbatches,
    nothing lost at chunk boundaries, no duplicates)."""
    got = jobs.run_to_memory(
        jobs.stream_stream_attribution(stream()),
        output_mode="append",
    )
    ev = load_table(spark, SF_DIR, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts"), F.col("event_id").alias("click_id")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts"),
        F.col("event_id").alias("purchase_id"),
    )
    from aws_iceberg_automation_spark.functions.compat import ts_sec
    batch = c.join(
        p,
        (F.col("user_id") == F.col("pu"))
        & (ts_sec("pts") >= ts_sec("cts"))
        & (ts_sec("pts") <= ts_sec("cts") + F.expr("INTERVAL 30 MINUTES")),
    )
    sgot = {(r.click_id, r.purchase_id) for r in got.collect()}
    bgot = {(r.click_id, r.purchase_id) for r in batch.collect()}
    assert sgot == bgot and len(sgot) > 0


def test_tws_capability_gate_fails_loudly(spark):
    """transformWithStateInPandas needs protobuf; without it the
    wrapper must refuse with a clear message BEFORE the state server
    crashes mid-query (and must not be registered as a driver query)."""
    import pytest as _pytest

    from aws_iceberg_automation_spark.registry import all_specs
    from aws_iceberg_automation_spark.streaming import jobs

    if jobs.HAVE_TWS_RUNTIME:
        _pytest.skip("protobuf present — gated path not exercisable")
    assert "q77b_stream_stateful_tws" not in all_specs()
    ev = spark.createDataFrame([(1, 1.0)], "user_id long, value double")
    with _pytest.raises(RuntimeError, match="google.protobuf"):
        jobs.stateful_user_totals_tws(ev)


def test_stream_append_with_live_rollup(spark, stream, tmp_path_factory):
    """Composite lakehouse loop: stream → exactly-once versioned append
    → per-microbatch incremental matview refresh. After the replay the
    view must equal the from-scratch aggregate of the full fixture, the
    table must hold one snapshot per microbatch, and every refresh must
    have been incremental (one refresh commit per source version — no
    full rebuilds)."""
    from aws_iceberg_automation_spark.matview import IncrementalAggView, Measure
    from aws_iceberg_automation_spark.versioning import VersionedTable

    root = tmp_path_factory.mktemp("live_rollup")
    vt = VersionedTable(spark, str(root / "events_table"))
    mv = IncrementalAggView(
        spark,
        vt,
        str(root / "rollup"),
        group_by=["event_type"],
        measures=[
            Measure("n", "count"),
            Measure("total", "sum", F.col("value").cast("decimal(18,2)")),
        ],
    )
    jobs.foreach_batch_append_with_rollup(
        stream(), vt, mv, str(root / "ckpt")
    )

    assert mv.staleness() == 0
    got = {r.event_type: (r.n, float(r.total)) for r in mv.read().collect()}
    exp = {
        r.event_type: (r.n, float(r.total))
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total"),
        )
        .collect()
    }
    assert got == exp

    appends = [s for s in vt.snapshots() if s.op.startswith("stream-append:")]
    assert len(appends) == 5  # one per replay microbatch
    refreshes = [s for s in mv.state.snapshots() if s.op.startswith("refresh:")]
    assert len(refreshes) == 5  # every refresh was a delta, none skipped


def test_stream_sequence_pattern_equals_batch_regex(spark):
    """The constant-state streaming DFA (q180) must produce exactly the
    batch regex matcher's (q177) rows — per-user counts and match
    verdicts — across a real multi-microbatch replay."""
    from aws_iceberg_automation_spark.registry import all_specs

    specs = all_specs()
    batch = {
        r.user_id: (r.n_events, r.n_matches, r.matched)
        for r in specs["q177_sequence_pattern"].fn(spark, SF_DIR).collect()
    }
    stream = {
        r.user_id: (r.n_events, r.n_matches, r.matched)
        for r in specs["q180_stream_sequence_pattern"].fn(spark, SF_DIR).collect()
    }
    assert stream == batch
    assert any(v[1] > 0 for v in batch.values())  # pattern actually fires


def test_progress_listener_captures_microbatch_telemetry(spark, replay_dir):
    """The listener harness must see every replay microbatch: input
    rows total the fixture, batch ids are sequential, and the windowed
    agg reports state-store metrics."""
    from aws_iceberg_automation_spark.streaming import jobs

    sdf = jobs.tumbling_agg(jobs.with_watermark(jobs.read_events_stream(spark, replay_dir)))
    out, progress = jobs.run_to_memory_with_metrics(sdf)
    assert out.count() > 0
    data_batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    assert len(data_batches) >= 2  # genuinely multi-microbatch
    from aws_iceberg_automation_spark.io import load_table

    n_events = load_table(spark, SF_DIR, "events").count()
    assert sum(p["numInputRows"] for p in data_batches) == n_events
    assert any(
        op.get("numRowsTotal", 0) > 0
        for p in data_batches
        for op in p.get("stateOperators", [])
    )


def test_stream_sequence_pattern_multichunk_arrow(spark):
    """Force tiny Arrow batches (maxRecordsPerBatch=7) so every user's
    microbatch reaches the DFA kernel as MANY chunks through the real
    applyInPandasWithState path — the stream must still equal the
    batch regex matcher exactly (regression: per-chunk sorting bug)."""
    from aws_iceberg_automation_spark.registry import all_specs

    specs = all_specs()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "7")
        stream = {
            r.user_id: (r.n_events, r.n_matches)
            for r in specs["q180_stream_sequence_pattern"].fn(spark, SF_DIR).collect()
        }
    finally:
        spark.conf.set(key, prev)
    batch = {
        r.user_id: (r.n_events, r.n_matches)
        for r in specs["q177_sequence_pattern"].fn(spark, SF_DIR).collect()
    }
    assert stream == batch


def test_stream_countmin_equals_batch_build(spark):
    """The streamed CMS must be cell-for-cell identical to the batch
    build over the same events — integer counts are order- and
    microbatch-insensitive, which is exactly the mergeability property
    that lets production pipelines roll up per-window sketches."""
    from pyspark.sql import functions as F

    from aws_iceberg_automation_spark.io import load_table
    from aws_iceberg_automation_spark.registry import all_specs
    from tests.conftest import SF_DIR

    streamed = (
        all_specs()["q194_stream_countmin_replay"].fn(spark, SF_DIR).collect()
    )
    from aws_iceberg_automation_spark.operators.text import countmin_cells

    ev = load_table(spark, SF_DIR, "events")
    batch = countmin_cells(ev.select("user_id"), "user_id", 4, 1024).collect()
    assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))
    n_events = ev.count()
    per_seed = {}
    for r in streamed:
        per_seed[r.seed] = per_seed.get(r.seed, 0) + r.cell
    assert set(per_seed.values()) == {n_events}  # each row counted once per seed


def test_stream_drift_monitor_known_psi(spark, tmp_path):
    """q256 with hour 0 matching the corpus type mix exactly and hour 1
    skewed all-A: PSI recomputed from the closed form in Python over
    the same smoothed distributions; only the skewed window crosses
    the 0.2 line when it truly does."""
    import math
    from datetime import datetime, timedelta

    from aws_iceberg_automation_spark.io import SCHEMAS
    from aws_iceberg_automation_spark.registry import all_specs

    base = datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    eid = 0
    # hour 0: 10 A + 10 B; hour 1: 20 A
    for i in range(10):
        rows.append((eid, base + timedelta(minutes=i), 1, "A", 1.0, "{}")); eid += 1
        rows.append((eid, base + timedelta(minutes=30 + i), 1, "B", 1.0, "{}")); eid += 1
    for i in range(20):
        rows.append((eid, base + timedelta(hours=1, minutes=i), 2, "A", 1.0, "{}")); eid += 1
    spark.createDataFrame(rows, SCHEMAS["events"]).write.parquet(
        str(tmp_path / "events.parquet")
    )
    out = {
        r.window_start.hour: r
        for r in all_specs()["q256_stream_drift_monitor"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert set(out) == {0, 1}

    def psi(win, ref, n_ref, t):
        wn = sum(win.values())
        s = 0.0
        for typ, rn in ref.items():
            p = (win.get(typ, 0) + 0.5) / (wn + 0.5 * t)
            q = (rn + 0.5) / (n_ref + 0.5 * t)
            s += (p - q) * math.log(p / q)
        return round(s, 6)

    ref = {"A": 30.0, "B": 10.0}
    psi0 = psi({"A": 10, "B": 10}, ref, 40.0, 2.0)
    psi1 = psi({"A": 20}, ref, 40.0, 2.0)
    assert out[0].n_events == 20 and out[0].psi == psi0
    assert out[1].n_events == 20 and out[1].psi == psi1
    assert out[1].psi > out[0].psi
    assert out[0].drift_flag == (psi0 > 0.2)
    assert out[1].drift_flag == (psi1 > 0.2)


def test_full_outer_stream_join_emits_both_null_classes(spark):
    """q264's full-outer check is only stronger than q146's left-outer
    if the fixture actually produces BOTH null-extension classes behind
    the horizon: clicks with no purchase (purchase_id NULL) and orphan
    purchases with no prior click (click_id NULL). If a fixture change
    drops either class, the full-outer claim silently degenerates —
    fail here, not in a vacuous oracle pass."""
    from aws_iceberg_automation_spark.registry import all_specs

    out = all_specs()["q264_stream_stream_full_outer"].fn(spark, SF_DIR)
    rows = out.collect()
    n_unmatched_clicks = sum(1 for r in rows if r.purchase_id is None)
    n_orphan_purchases = sum(1 for r in rows if r.click_id is None)
    n_matched = sum(
        1 for r in rows if r.click_id is not None and r.purchase_id is not None
    )
    assert n_unmatched_clicks > 0, "no null-extended clicks — vacuous"
    assert n_orphan_purchases > 0, "no orphan purchases — left outer would do"
    assert n_matched > 0, "no matched pairs — join condition vacuous"


def test_versioned_upsert_precedence_beats_arrival_order(
    spark, tmp_path_factory
):
    """Apply-if-newer CDC (round-5 review finding): a LATER microbatch
    carrying an EARLIER event must lose to the stored row when
    ``precedence`` is given — and must win (arrival-order LWW) when it
    is not. Driven as two sequential availableNow runs over
    single-file replay dirs, which exercises exactly the cross-batch
    merge path (the second run sees a non-empty table)."""
    import os

    from aws_iceberg_automation_spark.versioning import VersionedTable

    def run(vt, ckpt, rows, precedence):
        d = str(tmp_path_factory.mktemp("prec_replay"))
        spark.createDataFrame(
            rows, "user_id long, event_id long, ts timestamp_ntz, value double"
        ).coalesce(1).write.mode("overwrite").parquet(d)
        s = (
            spark.readStream.schema(
                "user_id long, event_id long, ts timestamp_ntz, value double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(d)
        )
        jobs.foreach_batch_versioned_upsert(
            s, vt, ["user_id"], ckpt, precedence=precedence
        )

    import datetime as dt

    newer = [(1, 9, dt.datetime(2024, 1, 1, 10, 0, 5), 1.0)]
    older = [(1, 3, dt.datetime(2024, 1, 1, 10, 0, 1), 2.0)]

    # precedence=(ts, event_id): stored newer row survives the older
    # late arrival
    vt1 = VersionedTable(spark, str(tmp_path_factory.mktemp("vt_prec")))
    run(vt1, str(tmp_path_factory.mktemp("ck1")), newer, ["ts", "event_id"])
    run(vt1, str(tmp_path_factory.mktemp("ck2")), older, ["ts", "event_id"])
    assert [(r.user_id, r.event_id) for r in vt1.read().collect()] == [(1, 9)]

    # no precedence: arrival order wins (documented default)
    vt2 = VersionedTable(spark, str(tmp_path_factory.mktemp("vt_lww")))
    run(vt2, str(tmp_path_factory.mktemp("ck3")), newer, None)
    run(vt2, str(tmp_path_factory.mktemp("ck4")), older, None)
    assert [(r.user_id, r.event_id) for r in vt2.read().collect()] == [(1, 3)]


def test_stream_width_pin_is_scoped_to_each_stream(spark, tmp_path):
    """Every sink runs its stream at STREAM_STATE_PARTITIONS and hands
    the session back at the session's own width, also when a
    microbatch step raises."""
    import datetime as dt
    import json
    import os

    from pyspark.errors import StreamingQueryException

    key = "spark.sql.shuffle.partitions"
    pinned = str(jobs.STREAM_STATE_PARTITIONS)
    t0 = dt.datetime(2024, 1, 1)
    replay = _write_replay(spark, str(tmp_path / "replay"), [
        [
            (i * 10 + j, t0 + dt.timedelta(hours=i, minutes=j), j % 3, "click", float(j), "{}")
            for j in range(10)
        ]
        for i in range(3)
    ])

    def stream():
        return jobs.with_watermark(jobs.read_events_stream(spark, replay))

    class Manager:
        """foreach_batch_upsert's manager: records the width each
        microbatch step runs at, or fails the step."""

        def __init__(self, fail=False):
            self.fail, self.widths = fail, []

        def merge_upsert(self, table, df, on):
            if self.fail:
                raise RuntimeError("step failed")
            self.widths.append(df.sparkSession.conf.get(key))

    prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        _, progress = jobs.run_to_memory_with_metrics(jobs.tumbling_agg(stream()))
        widths = {
            op["numShufflePartitions"]
            for p in progress
            for op in p.get("stateOperators", [])
        }
        assert widths == {jobs.STREAM_STATE_PARTITIONS}
        assert spark.conf.get(key) == "3"

        ckpt = str(tmp_path / "parquet_ckpt")
        jobs.write_stream_parquet(
            jobs.streaming_dedup(stream()), str(tmp_path / "out"), ckpt
        )
        # the offset log freezes the width the stream started with
        with open(os.path.join(ckpt, "offsets", "0")) as f:
            assert json.loads(f.read().splitlines()[1])["conf"][key] == pinned
        assert spark.conf.get(key) == "3"

        manager = Manager()
        jobs.foreach_batch_upsert(
            stream(), manager, "t", ["user_id"], str(tmp_path / "upsert_ckpt")
        )
        assert len(manager.widths) == 3 and set(manager.widths) == {pinned}
        assert spark.conf.get(key) == "3"

        with pytest.raises(StreamingQueryException, match="step failed"):
            jobs.foreach_batch_upsert(
                stream(), Manager(fail=True), "t", ["user_id"],
                str(tmp_path / "fail_ckpt"),
            )
        assert spark.conf.get(key) == "3"
    finally:
        spark.conf.set(key, prev)


def test_streaming_dedup_state_is_bounded_by_the_watermark(spark, tmp_path):
    """#76: dedup state is evicted once the watermark passes a key's
    event time — the last microbatch holds under half the rows the
    stream read and has removed some — while a redelivered row (same
    event_id, same ts) in a later microbatch is still dropped."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    chunks = [
        [
            (i * 10 + j, t0 + dt.timedelta(hours=3 * i, minutes=j), j, "click", float(j), "{}")
            for j in range(10)
        ]
        for i in range(5)
    ]
    chunks[2].append(chunks[1][4])  # redelivered inside the watermark
    replay = _write_replay(spark, str(tmp_path / "replay"), chunks)
    out, progress = jobs.run_to_memory_with_metrics(
        jobs.streaming_dedup(
            jobs.with_watermark(jobs.read_events_stream(spark, replay))
        ),
        output_mode="append",
    )
    assert out.count() == out.select("event_id").distinct().count() == 50
    n_read = sum(p["numInputRows"] for p in progress)
    assert n_read == 51
    last = [p["stateOperators"][0] for p in progress if p.get("stateOperators")][-1]
    assert last["numRowsTotal"] < n_read // 2
    assert last["numRowsRemoved"] > 0


def test_append_once_decodes_a_constant_number_of_manifests(spark, tmp_path, monkeypatch):
    """The exactly-once check of a microbatch append finds its tag
    without decoding the table's whole snapshot log: the 10th
    microbatch decodes as many manifests as the 2nd (the parent the
    commit builds on), and a redelivered microbatch decodes none and
    commits nothing."""
    from aws_iceberg_automation_spark.versioning import VersionedTable

    vt = VersionedTable(spark, str(tmp_path / "vt"))
    decodes = []
    decode = VersionedTable.snapshot

    def counting(self, version):
        decodes.append(version)
        return decode(self, version)

    monkeypatch.setattr(VersionedTable, "snapshot", counting)
    per_batch = {}
    for batch_id in range(10):
        decodes.clear()
        jobs._append_once(vt, spark.range(batch_id * 3, batch_id * 3 + 3), batch_id)
        per_batch[batch_id] = len(decodes)
    assert per_batch[9] == per_batch[1] == 1
    decodes.clear()
    jobs._append_once(vt, spark.range(100, 103), 4)
    assert decodes == []
    assert vt.current_version() == 10
    assert vt.read().count() == 30
    assert vt.op_log() == [f"stream-append:{b}" for b in range(10)]
