"""Time-travel fallback (#15): versioned parquet tables — snapshot
isolation, VERSION/TIMESTAMP AS OF reads, rollback, immutability of
published snapshots."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from aws_iceberg_automation_spark.versioning import VersionedTable, VersioningError


@pytest.fixture()
def vt(spark, tmp_path):
    return VersionedTable(spark, str(tmp_path / "t"))


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id"), (F.col("id") * 10).alias("v"))


def test_append_overwrite_and_version_reads(spark, vt):
    v1 = vt.write(_df(spark, 0, 5), mode="append")
    v2 = vt.write(_df(spark, 5, 8), mode="append")
    v3 = vt.write(_df(spark, 100, 102), mode="overwrite")
    assert (v1, v2, v3) == (1, 2, 3)
    assert vt.read(version=1).count() == 5
    assert vt.read(version=2).count() == 8  # append accumulates
    assert vt.read().count() == 2  # CURRENT = overwritten set
    assert sorted(r.id for r in vt.read(version=3).collect()) == [100, 101]
    # old snapshot still intact after the overwrite (immutability)
    assert sorted(r.id for r in vt.read(version=1).collect()) == [0, 1, 2, 3, 4]


def test_timestamp_as_of(spark, vt):
    vt.write(_df(spark, 0, 3))
    ts_between = vt.snapshot(1).ts
    vt.write(_df(spark, 3, 6))
    assert vt.read(as_of_timestamp=ts_between).count() == 3
    assert vt.read(as_of_timestamp="9999-01-01").count() == 6
    with pytest.raises(VersioningError, match="at or before"):
        vt.read(as_of_timestamp="1999-01-01")


def test_rollback_then_branch(spark, vt):
    vt.write(_df(spark, 0, 4))
    vt.write(_df(spark, 4, 9))
    vt.rollback(1)
    assert vt.read().count() == 4
    # new writes branch from the rolled-back snapshot; the abandoned
    # snapshot's number is never reused (monotonic ids, Iceberg-style)
    v3 = vt.write(_df(spark, 50, 52), mode="append")
    assert v3 == 3
    assert vt.snapshot(3).parent == 1
    assert vt.read().count() == 6
    # snapshot log remains auditable, including the abandoned branch
    assert [s.version for s in vt.snapshots()] == [1, 2, 3]


def test_loud_failures(spark, vt):
    with pytest.raises(VersioningError, match="empty versioned table"):
        vt.read()
    vt.write(_df(spark, 0, 2))
    with pytest.raises(VersioningError, match="no snapshot v9"):
        vt.read(version=9)
    with pytest.raises(VersioningError, match="not both"):
        vt.read(version=1, as_of_timestamp="2030-01-01")
    with pytest.raises(VersioningError, match="append/overwrite"):
        vt.write(_df(spark, 0, 1), mode="replace")


def test_manager_entrypoint(spark, tmp_path):
    from aws_iceberg_automation_spark.catalog import TableManager

    mgr = TableManager(spark)
    vt = mgr.versioned(str(tmp_path / "m"))
    vt.write(_df(spark, 0, 3))
    assert vt.read().count() == 3


def test_merge_and_delete_keep_history(spark, vt):
    vt.write(_df(spark, 0, 5))
    # upsert: ids 3,4 updated (v = id*1000), id 9 inserted
    source = spark.range(3, 5).select(
        F.col("id"), (F.col("id") * 1000).alias("v")
    ).unionByName(spark.range(9, 10).select(F.col("id"), (F.col("id") * 1000).alias("v")))
    v2 = vt.merge(source, on=["id"])
    assert v2 == 2
    now = {r.id: r.v for r in vt.read().collect()}
    assert now == {0: 0, 1: 10, 2: 20, 3: 3000, 4: 4000, 9: 9000}
    # pre-merge state still time-travelable
    before = {r.id: r.v for r in vt.read(version=1).collect()}
    assert before == {0: 0, 1: 10, 2: 20, 3: 30, 4: 40}
    v3 = vt.delete_where("id >= 4")
    assert sorted(r.id for r in vt.read().collect()) == [0, 1, 2, 3]
    assert vt.read(version=v2).count() == 6  # deleted rows readable at v2
    with pytest.raises(VersioningError, match="duplicate keys"):
        vt.merge(source.unionByName(source), on=["id"])


def test_cli_snapshots_and_rollback(spark, tmp_path, capsys):
    import json

    from aws_iceberg_automation_spark.cli import main

    vt = VersionedTable(spark, str(tmp_path / "cli_t"))
    vt.write(_df(spark, 0, 3))
    vt.write(_df(spark, 3, 5))
    assert main(["snapshots", vt.root]) == 0
    out = json.loads(capsys.readouterr().out)
    assert out["current"] == 2
    assert [s["version"] for s in out["snapshots"]] == [1, 2]
    assert main(["rollback", vt.root, "1"]) == 0
    assert json.loads(capsys.readouterr().out)["current"] == 1
    assert main(["rollback", vt.root, "9"]) == 1


def test_compaction_preserves_data_and_history(spark, vt):
    for lo in range(0, 40, 5):  # 8 small commits -> many small files
        vt.write(_df(spark, lo, lo + 5).repartition(4))
    pre = vt.snapshot(vt.current_version())
    assert len(pre.files) >= 16
    v = vt.compact(target_files=2)
    post = vt.snapshot(v)
    assert post.op == "compact"
    assert len(post.files) <= 2
    assert sorted(r.id for r in vt.read().collect()) == list(range(40))
    # pre-compaction snapshot untouched, same data through old files
    assert sorted(r.id for r in vt.read(version=pre.version).collect()) == list(
        range(40)
    )


def test_expire_snapshots_gc(spark, vt):
    vt.write(_df(spark, 0, 10))
    vt.write(_df(spark, 10, 12), mode="overwrite")  # v1's files now dead-if-expired
    vt.write(_df(spark, 12, 15), mode="append")
    v1_files = set(vt.snapshot(1).files)
    stats = vt.expire_snapshots(keep_last=2)
    assert stats["expired_snapshots"] == 1
    assert stats["deleted_files"] == len(v1_files)
    import os

    assert all(not os.path.exists(f.removeprefix("file:")) for f in v1_files)
    # survivors read fine
    assert vt.read().count() == 5
    assert vt.read(version=2).count() == 2
    # expired snapshot is gone, loudly
    with pytest.raises(VersioningError, match="no snapshot v1"):
        vt.read(version=1)
    # expiring down to CURRENT only still keeps CURRENT readable
    vt.rollback(2)
    vt.expire_snapshots(keep_last=1)
    assert vt.read().count() == 2


def test_random_op_sequences_match_model(spark, tmp_path):
    """Model-based check: a seeded random sequence of lifecycle ops
    (append/overwrite/merge/delete/rollback/compact) applied to both
    the real VersionedTable and a pure-Python model must agree on the
    visible rows after every step, and every still-existing snapshot
    must replay its recorded model state exactly."""
    import random

    rng = random.Random(20260813)
    vt = VersionedTable(spark, str(tmp_path / "model_t"))
    model: dict[int, int] = {}
    history: dict[int, dict[int, int]] = {}
    next_id = 0

    def fresh_rows(n):
        nonlocal next_id
        rows = {next_id + i: (next_id + i) * 7 for i in range(n)}
        next_id += n
        return rows

    def to_df(rows):
        return spark.createDataFrame(
            [(k, v) for k, v in rows.items()], "id long, v long"
        )

    for _ in range(18):
        op = rng.choice(
            ["append", "overwrite", "merge", "delete", "rollback", "compact"]
        )
        if op == "append" or not history:
            rows = fresh_rows(rng.randint(1, 4))
            ver = vt.write(to_df(rows), mode="append")
            model = {**model, **rows}
        elif op == "overwrite":
            rows = fresh_rows(rng.randint(1, 4))
            ver = vt.write(to_df(rows), mode="overwrite")
            model = dict(rows)
        elif op == "merge":
            updates = {
                k: k * 1000 for k in rng.sample(sorted(model), min(2, len(model)))
            }
            inserts = fresh_rows(1)
            ver = vt.merge(to_df({**updates, **inserts}), on=["id"])
            model = {**model, **updates, **inserts}
        elif op == "delete":
            cut = rng.choice(sorted(model))
            ver = vt.delete_where(f"id = {cut}")
            model = {k: v for k, v in model.items() if k != cut}
        elif op == "rollback":
            ver = rng.choice(sorted(history))
            vt.rollback(ver)
            model = dict(history[ver])
            continue  # no new snapshot committed
        else:  # compact
            ver = vt.compact(target_files=1)
        history[ver] = dict(model)
        got = {r.id: r.v for r in vt.read().collect()}
        assert got == model, f"after {op}: {got} != {model}"

    # every surviving snapshot replays its recorded state
    for s in vt.snapshots():
        if s.version in history:
            got = {r.id: r.v for r in vt.read(version=s.version).collect()}
            assert got == history[s.version], f"v{s.version} drifted"


# -- manifest-level data skipping (scan pruning) -----------------------


def _ranged_df(spark, n=400, nfiles=4):
    """Rows 0..n-1 range-partitioned into nfiles disjoint id ranges so
    footer min/max bounds are tight and non-overlapping."""
    return (
        spark.range(0, n)
        .select(F.col("id"), (F.col("id") % 7).alias("v"), F.lit("x").alias("s"))
        .repartitionByRange(nfiles, "id")
        .sortWithinPartitions("id")
    )


def test_scan_prunes_files_and_matches_full_filter(spark, vt):
    vt.write(_ranged_df(spark), mode="append")
    all_files = vt.read().inputFiles()
    assert len(all_files) == 4
    pruned = vt.scan([("id", ">=", 350)])
    assert len(pruned.inputFiles()) < len(all_files)
    expect = sorted(r.id for r in vt.read().filter("id >= 350").collect())
    assert sorted(r.id for r in pruned.collect()) == expect


def test_scan_equality_and_in_prune_to_one_file(spark, vt):
    vt.write(_ranged_df(spark), mode="append")
    one = vt.scan([("id", "=", 5)])
    assert len(one.inputFiles()) == 1
    assert [r.id for r in one.collect()] == [5]
    got = vt.scan([("id", "in", [5, 7])])
    assert len(got.inputFiles()) == 1
    assert sorted(r.id for r in got.collect()) == [5, 7]


def test_scan_is_exact_not_just_pruned(spark, vt):
    """Bounds admit a file; the residual filter must still drop the
    non-matching rows inside it (v is low-cardinality: every file's
    v-range is [0, 6], no pruning possible — correctness must not
    depend on stats helping)."""
    vt.write(_ranged_df(spark), mode="append")
    got = vt.scan([("v", "=", 3)])
    assert len(got.inputFiles()) == 4  # stats can't prune this
    expect = sorted(r.id for r in vt.read().filter("v = 3").collect())
    assert sorted(r.id for r in got.collect()) == expect


def test_scan_empty_result_short_circuits(spark, vt):
    vt.write(_ranged_df(spark), mode="append")
    got = vt.scan([("id", ">", 10_000)])
    assert got.count() == 0
    assert set(got.columns) == {"id", "v", "s"}


def test_scan_respects_time_travel(spark, vt):
    vt.write(_ranged_df(spark, n=100, nfiles=2), mode="append")
    vt.write(
        spark.range(1000, 1100).select(
            F.col("id"), (F.col("id") % 7).alias("v"), F.lit("y").alias("s")
        ),
        mode="append",
    )
    # v1 never contained ids >= 1000: pruning proves it without IO
    old = vt.scan([("id", ">=", 1000)], version=1)
    assert old.count() == 0
    cur = vt.scan([("id", ">=", 1000)])
    assert cur.count() == 100


def test_scan_conservative_without_stats(spark, vt, tmp_path):
    """A manifest with no stats (pre-stats table, or unreadable
    footers) must keep every file and still answer correctly."""
    vt.write(_ranged_df(spark), mode="append")
    snap = vt.snapshot(vt.current_version())
    import json as _json
    import os as _os

    manifest = vt._manifest_path(snap.version)
    with open(manifest) as f:
        m = _json.load(f)
    m["stats"] = {}
    _os.remove(manifest)
    with open(manifest, "w") as f:
        _json.dump(m, f)
    got = vt.scan([("id", ">=", 350)])
    assert len(got.inputFiles()) == 4  # nothing pruned
    assert got.count() == 50


def test_scan_after_compact_and_merge(spark, vt):
    """Rewrite commits (compact, merge) collect fresh stats for their
    new files; pruning keeps working across the rewrite."""
    vt.write(_ranged_df(spark), mode="append")
    vt.compact(target_files=2)
    got = vt.scan([("id", ">=", 350)])
    assert len(got.inputFiles()) <= 2
    assert got.count() == 50
    src = spark.createDataFrame([(399, 999, "z")], "id long, v long, s string")
    vt.merge(src, on=["id"])
    assert vt.scan([("id", "=", 399)]).collect()[0].v == 999


# -- incremental (append-diff) reads -----------------------------------


def test_changes_reads_only_new_files(spark, vt):
    vt.write(_df(spark, 0, 5), mode="append")
    vt.write(_df(spark, 5, 8), mode="append")
    vt.write(_df(spark, 8, 20), mode="append")
    inc = vt.changes(from_version=1)
    assert sorted(r.id for r in inc.collect()) == list(range(5, 20))
    # bounded window
    mid = vt.changes(from_version=1, to_version=2)
    assert sorted(r.id for r in mid.collect()) == [5, 6, 7]
    # no change → empty with schema
    none = vt.changes(from_version=3, to_version=3)
    assert none.count() == 0 and set(none.columns) == {"id", "v"}
    # file-level: the incremental scan must not reopen v1's files
    v1_files = set(vt.snapshot(1).files)
    assert not (set(inc.inputFiles()) & v1_files)


def test_changes_refuses_rewrites_and_branches(spark, vt):
    vt.write(_df(spark, 0, 5), mode="append")
    vt.write(_df(spark, 5, 8), mode="append")
    vt.delete_where("id = 6")  # v3: overwrite commit
    with pytest.raises(VersioningError, match="not pure appends"):
        vt.changes(from_version=1)
    # but a window that avoids the rewrite still works
    assert vt.changes(from_version=1, to_version=2).count() == 3
    # rollback branch: v4 branches from v2; from_version=3 is off-lineage
    vt.rollback(2)
    vt.write(_df(spark, 100, 102), mode="append")  # v4, parent=2
    with pytest.raises(VersioningError, match="not an ancestor"):
        vt.changes(from_version=3, to_version=4)
    assert sorted(r.id for r in vt.changes(from_version=2, to_version=4).collect()) == [
        100,
        101,
    ]


def test_cli_changes(spark, tmp_path, capsys):
    import json as _json

    from aws_iceberg_automation_spark.cli import main

    vt = VersionedTable(spark, str(tmp_path / "cli_changes_t"))
    vt.write(_df(spark, 0, 5), mode="append")
    vt.write(_df(spark, 5, 9), mode="append")
    assert main(["changes", vt.root, "1"]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out == {"from": 1, "to": 2, "rows": 4, "files": out["files"]}
    # refused window surfaces as exit 1, not a stack trace
    vt.delete_where("id = 0")
    assert main(["changes", vt.root, "1"]) == 1


# -- branches, tags, write-audit-publish ------------------------------


def test_branch_write_isolated_until_publish(spark, vt):
    v1 = vt.write(_df(spark, 0, 5))
    vt.create_branch("stage")
    bv = vt.write(_df(spark, 5, 8), mode="append", branch="stage")
    # main readers see nothing from the branch
    assert vt.read().count() == 5
    assert vt.current_version() == v1
    # branch readers see staged + existing
    assert vt.read_branch("stage").count() == 8
    # publish fast-forwards main and drops the ref by default
    assert vt.publish_branch("stage") == bv
    assert vt.read().count() == 8
    assert "stage" not in vt.refs()


def test_publish_refuses_diverged_main(spark, vt):
    vt.write(_df(spark, 0, 5))
    vt.create_branch("stage")
    vt.write(_df(spark, 5, 8), branch="stage")
    vt.write(_df(spark, 100, 101))  # main advances past the fork
    with pytest.raises(VersioningError, match="not an ancestor"):
        vt.publish_branch("stage")
    assert vt.read().count() == 6  # main unharmed


def test_tags_pin_and_survive_gc(spark, vt):
    vt.write(_df(spark, 0, 5))
    vt.create_tag("audited-v1")
    for i in range(4):
        vt.write(_df(spark, 100 + i, 101 + i), mode="overwrite")
    vt.expire_snapshots(keep_last=1)
    # the tagged snapshot survived GC and still reads in full
    assert vt.read_branch("audited-v1").count() == 5
    with pytest.raises(VersioningError, match="is a tag"):
        vt.publish_branch("audited-v1")


def test_wap_publishes_clean_batch(spark, vt):
    from aws_iceberg_automation_spark.operators.dq import Rule

    vt.write(_df(spark, 0, 5))
    rules = [Rule("v_non_negative", F.col("v") >= 0)]
    out = vt.write_audit_publish(_df(spark, 5, 8), rules)
    assert out["published"] is True
    assert vt.read().count() == 8
    assert vt.refs() == {}  # ephemeral branch cleaned up


def test_wap_failed_audit_keeps_main_and_branch(spark, vt):
    from aws_iceberg_automation_spark.operators.dq import Rule

    vt.write(_df(spark, 0, 5))
    bad = spark.range(5, 8).select(F.col("id"), (-F.col("id")).alias("v"))
    rules = [Rule("v_non_negative", F.col("v") >= 0)]
    out = vt.write_audit_publish(bad, rules)
    assert out["published"] is False
    assert any(r["n_violations"] == 3 for r in out["report"])
    # main untouched; staged rows inspectable on the kept branch
    assert vt.read().count() == 5
    assert vt.read_branch("_audit").count() == 8
    # a second WAP refuses until the failed branch is inspected+dropped
    with pytest.raises(VersioningError, match="previous WAP"):
        vt.write_audit_publish(_df(spark, 8, 9), rules)
    vt.drop_ref("_audit")
    assert vt.write_audit_publish(_df(spark, 5, 8), rules)["published"] is True
    assert vt.read().count() == 8


def test_cli_branch_lifecycle(spark, tmp_path, capsys):
    import json as _json

    from aws_iceberg_automation_spark.cli import main

    root = str(tmp_path / "t")
    vt = VersionedTable(spark, root)
    vt.write(_df(spark, 0, 5))
    assert main(["branch", root, "create", "stage"]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["refs"]["stage"]["type"] == "branch"
    vt.write(_df(spark, 5, 8), branch="stage")
    assert main(["branch", root, "publish", "stage"]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["refs"] == {}
    assert vt.read().count() == 8
    assert main(["branch", root, "publish", "nope"]) == 1


# -- bloom sidecars ----------------------------------------------------


def test_bloom_python_jvm_hash_agreement(spark, vt):
    """The Python probe and the JVM build must place every value at
    identical bit positions — otherwise pruning silently breaks."""
    vals = [0, 7, 123456789, "abc", "x:y"]
    n_bits = 16384
    rows = []
    for seed in range(4):
        df = spark.createDataFrame([(str(v),) for v in vals], ["s"]).select(
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws(":", F.col("s"), F.lit(str(seed)))), 1, 15
                    ),
                    16,
                    10,
                ).cast("long")
                % n_bits
            ).alias("pos")
        )
        rows.append([r.pos for r in df.collect()])
    for seed in range(4):
        for i, v in enumerate(vals):
            assert rows[seed][i] == VersionedTable._bloom_positions(v, seed, n_bits)


def test_bloom_prunes_scattered_point_lookup(spark, vt):
    # two files with fully overlapping [0, 99] ranges: evens vs odds —
    # min/max bounds cannot prune an equality lookup, a bloom can.
    even = spark.range(0, 100, 2).select(F.col("id"), (F.col("id") * 10).alias("v"))
    odd = spark.range(1, 100, 2).select(F.col("id"), (F.col("id") * 10).alias("v"))
    vt.write(even.coalesce(1))
    vt.write(odd.coalesce(1), mode="append")
    n_files = len(vt.snapshot(vt.current_version()).files)
    assert n_files == 2
    # without a sidecar: no bloom pruning, but min/max also can't help
    assert len(vt.scan([("id", "=", 42)]).inputFiles()) == 2
    vt.compute_bloom(["id"])
    hit = vt.scan([("id", "=", 42)])
    assert len(hit.inputFiles()) == 1  # odd-id file bloom-pruned
    assert [r.v for r in hit.collect()] == [420]
    # absent key: every file pruned, empty result with intact schema
    miss = vt.scan([("id", "=", 424242)])
    assert miss.count() == 0
    assert miss.columns == ["id", "v"]
    # IN probes each member; unchanged correctness vs full filter
    both = vt.scan([("id", "in", (42, 43))])
    assert sorted(r.id for r in both.collect()) == [42, 43]
    # range ops never consult the bloom (still both files, still right)
    rng = vt.scan([("id", ">=", 98)])
    assert sorted(r.id for r in rng.collect()) == [98, 99]


# -- row-level CDC (changelog reads) ----------------------------------


def test_changelog_captured_merge_and_delete(spark, vt):
    v1 = vt.write(_df(spark, 0, 5))
    # upsert: update ids 3,4; insert ids 5,6
    src = spark.range(3, 7).select(F.col("id"), (F.col("id") * 100).alias("v"))
    vt.merge(src, on=["id"], capture_changelog=True)
    vt.delete_where("id = 0", capture_changelog=True)
    cl = vt.changelog(v1).collect()
    by_type = {}
    for r in cl:
        by_type.setdefault(r._change_type, []).append((r.id, r.v, r._commit_version))
    assert sorted(i for i, _, _ in by_type["update_before"]) == [3, 4]
    assert sorted((i, x) for i, x, _ in by_type["update_after"]) == [(3, 300), (4, 400)]
    assert sorted((i, x) for i, x, _ in by_type["insert"]) == [(5, 500), (6, 600)]
    assert [(i, x) for i, x, _ in by_type["delete"]] == [(0, 0)]
    # commit versions are distinct per op and ordered
    assert max(v for _, _, v in by_type["update_after"]) < by_type["delete"][0][2]


def test_changelog_synthesizes_appends_and_falls_back_on_uncaptured(spark, vt):
    v1 = vt.write(_df(spark, 0, 3))
    vt.write(_df(spark, 3, 5), mode="append")  # insert via file diff
    vt.delete_where("id = 1")  # NOT captured → snapshot-diff fallback
    cl = vt.changelog(v1).collect()
    ins = sorted(r.id for r in cl if r._change_type == "insert")
    dels = sorted(r.id for r in cl if r._change_type == "delete")
    assert ins == [3, 4]
    assert dels == [1]
    # replaying the changelog over the v1 state reproduces CURRENT
    state = {r.id: r.v for r in vt.read(version=v1).collect()}
    for r in sorted(cl, key=lambda r: r._commit_version):
        if r._change_type in ("insert", "update_after"):
            state[r.id] = r.v
        elif r._change_type == "delete":
            state.pop(r.id)
        elif r._change_type == "update_before":
            pass
    assert state == {r.id: r.v for r in vt.read().collect()}


def test_changelog_skips_compact_and_gc_removes_captured(spark, vt):
    v1 = vt.write(_df(spark, 0, 5))
    vt.compact()
    assert vt.changelog(v1).count() == 0  # byte-identical rewrite
    v3 = vt.delete_where("id < 2", capture_changelog=True)
    import os as _os

    assert _os.path.isdir(vt._changelog_dir(v3))
    for _ in range(3):
        vt.write(_df(spark, 50, 51), mode="append")
    vt.expire_snapshots(keep_last=1)
    assert not _os.path.isdir(vt._changelog_dir(v3))


def test_cli_changelog(spark, tmp_path, capsys):
    import json as _json

    from aws_iceberg_automation_spark.cli import main

    root = str(tmp_path / "t")
    vt = VersionedTable(spark, root)
    v1 = vt.write(_df(spark, 0, 5))
    vt.write(_df(spark, 5, 7), mode="append")
    vt.delete_where("id = 0", capture_changelog=True)
    assert main(["changelog", root, str(v1)]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["changes"] == {"insert": 2, "delete": 1}


# -- partitioned writes & spec evolution ------------------------------


def test_partitioned_write_prunes_and_reads_back(spark, vt):
    df = spark.range(0, 100).select(
        F.col("id"),
        (F.col("id") % 4).alias("bucket"),
        (F.col("id") * 10).alias("v"),
    )
    vt.write(df, partition_by=["bucket"])
    # full read reconstructs the partition column
    back = vt.read()
    assert sorted(back.columns) == ["bucket", "id", "v"]
    assert back.count() == 100
    assert back.filter("bucket = 2").count() == 25
    # manifest pruning on the partition predicate: only bucket=2 files
    hit = vt.scan([("bucket", "=", 2)])
    assert all("bucket=2" in f for f in hit.inputFiles())
    assert sorted(r.id for r in hit.collect()) == sorted(range(2, 100, 4))
    # range ops prune too (exact [v,v] bounds)
    assert all(
        "bucket=3" in f for f in vt.scan([("bucket", ">=", 3)]).inputFiles()
    )


def test_partition_spec_evolution_mixed_reads(spark, vt):
    flat = spark.range(0, 10).select(
        F.col("id"), (F.col("id") % 2).alias("k"), F.lit("old").alias("tag")
    )
    vt.write(flat)  # v1: unpartitioned (k lives in file content)
    part = spark.range(10, 20).select(
        F.col("id"), (F.col("id") % 2).alias("k"), F.lit("new").alias("tag")
    )
    vt.write(part, mode="append", partition_by=["k"])  # v2: partitioned by k
    back = vt.read()
    assert back.count() == 20
    # k survives from both layouts (content in v1, path in v2)
    assert back.filter("k = 1").count() == 10
    # changes() across the evolution window reads only the delta, with k
    delta = vt.changes(1)
    assert sorted(r.id for r in delta.collect()) == list(range(10, 20))
    assert delta.filter("k = 0").count() == 5
    # scan prunes partition files but only filters (not prunes) flat ones
    hit = vt.scan([("k", "=", 0)])
    assert sorted(r.id for r in hit.collect()) == [0, 2, 4, 6, 8, 10, 12, 14, 16, 18]
    assert not any("k=1" in f for f in hit.inputFiles())


def test_metadata_tables(spark, vt):
    df = spark.range(0, 40).select(F.col("id"), (F.col("id") % 2).alias("k"))
    v1 = vt.write(df, partition_by=["k"])
    vt.delete_where("id = 0", capture_changelog=True)
    hist = {r.version: r for r in vt.history_df().collect()}
    assert hist[v1].op in ("append",) and hist[v1].parent is None
    assert any(r.has_changelog for r in hist.values())
    assert sum(r.is_current for r in hist.values()) == 1
    files = vt.files_df(version=v1).collect()
    assert all(r.record_count and r.size_bytes for r in files)
    import json as _json

    parts = {r.file_path: _json.loads(r.partition) for r in files}
    assert all(p["k"] in (0, 1) for p in parts.values())
    pd_rows = {r.partition: r for r in vt.partitions_df(version=v1).collect()}
    assert len(pd_rows) == 2
    assert sum(r.record_count for r in pd_rows.values()) == 40


def test_corpus_diff_between_time_travel_snapshots(spark, tmp_path):
    """corpus_diff over two real VersionedTable snapshots: v2 drops a
    doc, edits a doc, and adds a doc relative to v1 — the diff must
    classify every doc_id exactly from the two time-travel reads."""
    from aws_iceberg_automation_spark.operators.curation import corpus_diff

    vt = VersionedTable(spark, str(tmp_path / "corpus_t"))
    v1_docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon"), (3, "zeta eta theta")],
        "doc_id long, text string",
    )
    vt.write(v1_docs, mode="overwrite")
    v2_docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (3, "zeta eta theta iota"), (4, "kappa")],
        "doc_id long, text string",
    )
    vt.write(v2_docs, mode="overwrite")
    diff = {
        r.doc_id: r.change_type
        for r in corpus_diff(vt.read(version=2), vt.read(version=1)).collect()
    }
    assert diff == {1: "unchanged", 2: "removed", 3: "modified", 4: "added"}


def test_orphan_files_found_and_removed_without_touching_live_data(spark, vt):
    """A stranded parquet file (simulating a crashed writer that never
    committed) must be reported as orphan and removable, while every
    manifest-referenced file survives and all snapshots stay readable."""
    vt.write(_df(spark, 0, 5))
    vt.write(_df(spark, 5, 9))
    assert vt.orphan_files(older_than_seconds=0) == []
    stranded_dir = os.path.join(vt.root, "data", "v99")
    os.makedirs(stranded_dir)
    stranded = os.path.join(stranded_dir, "part-crashed.parquet")
    with open(stranded, "wb") as f:
        f.write(b"not really parquet")
    # a non-data marker must never be flagged
    open(os.path.join(stranded_dir, "_SUCCESS"), "w").close()
    # default age guard: a FRESH unreferenced file is treated as a
    # possibly-in-flight write, not an orphan
    assert vt.orphan_files() == []
    assert vt.orphan_files(older_than_seconds=0) == [stranded]
    removed = vt.orphan_files(remove=True, older_than_seconds=0)
    assert removed == [stranded] and not os.path.exists(stranded)
    assert vt.orphan_files(older_than_seconds=0) == []
    assert vt.read(version=1).count() == 5
    assert vt.read().count() == 9


def test_encoded_partition_paths_never_misreported_as_orphans(spark, tmp_path):
    """inputFiles() percent-encodes URIs (space→%20 in string partition
    values); _local_path must unquote or every live file in such a
    partition looks like an orphan and 'orphans --remove' would delete
    committed data (round-3 advice item)."""
    vt = VersionedTable(spark, str(tmp_path / "enc_t"))
    df = spark.createDataFrame(
        [(1, "US West"), (2, "US East"), (3, "US West")], "id int, region string"
    )
    vt.write(df, partition_by=["region"])
    # live, partition-encoded files are NOT orphans even with no age guard
    assert vt.orphan_files(older_than_seconds=0) == []
    # ...and stats/size accounting sees through the encoding too
    snap = vt.snapshot(1)
    assert any("%20" in f or "US West" in f for f in snap.files)
    # partition bounds decoded (pruning on the real value works)
    assert vt.scan([("region", "=", "US West")]).count() == 2
    # expire after overwrite actually deletes the encoded files
    vt.write(df.limit(1), mode="overwrite")
    vt.expire_snapshots(keep_last=1)
    live = vt.read().count()
    assert live == 1
    leftover = [
        p
        for dirpath, _, files in os.walk(os.path.join(vt.root, "data", "v1"))
        for p in files
        if p.endswith(".parquet")
    ]
    assert leftover == []  # v1's encoded-path files really removed


def test_orphan_remove_tolerates_concurrent_deletion(spark, vt, monkeypatch):
    """A candidate vanishing between listing and os.remove (concurrent
    cleanup) must not abort the removal pass."""
    vt.write(_df(spark, 0, 3))
    stranded_dir = os.path.join(vt.root, "data", "v99")
    os.makedirs(stranded_dir)
    a = os.path.join(stranded_dir, "part-a.parquet")
    b = os.path.join(stranded_dir, "part-b.parquet")
    for p in (a, b):
        with open(p, "wb") as f:
            f.write(b"x")
    real_remove = os.remove

    def racy_remove(path, *args, **kw):
        if path == a:
            real_remove(a)  # simulate another cleaner winning the race
            raise FileNotFoundError(path)
        return real_remove(path, *args, **kw)

    monkeypatch.setattr(os, "remove", racy_remove)
    removed = vt.orphan_files(remove=True, older_than_seconds=0)
    assert sorted(removed) == [a, b]
    assert not os.path.exists(a) and not os.path.exists(b)


def test_merge_precedence_apply_if_newer(spark, vt):
    """merge(precedence=...): a matched row is replaced only when the
    source strictly outranks the stored row; full-precedence ties keep
    the stored row (deterministic, redelivery = no-op); changelog
    captures images ONLY for keys that actually changed."""
    base = spark.createDataFrame(
        [(1, 10, "old"), (2, 20, "old"), (3, 30, "old")],
        "id bigint, ts bigint, payload string",
    )
    vt.write(base)
    src = spark.createDataFrame(
        [
            (1, 11, "newer"),   # outranks -> replaces
            (2, 19, "stale"),   # outranked -> stored wins
            (3, 30, "tie"),     # full tie -> stored wins
            (4, 40, "insert"),  # unmatched -> inserts
        ],
        "id bigint, ts bigint, payload string",
    )
    v = vt.merge(src, on=["id"], precedence=["ts"], capture_changelog=True)
    now = {r.id: (r.ts, r.payload) for r in vt.read().collect()}
    assert now == {
        1: (11, "newer"),
        2: (20, "old"),
        3: (30, "old"),
        4: (40, "insert"),
    }
    ch = vt.changelog(v - 1, v).collect()
    by_type: dict[str, set[int]] = {}
    for r in ch:
        by_type.setdefault(r._change_type, set()).add(r.id)
    assert by_type.get("update_after") == {1}
    assert by_type.get("update_before") == {1}
    assert by_type.get("insert") == {4}
    # redelivering the SAME batch is an exact no-op state-wise
    vt.merge(src, on=["id"], precedence=["ts"])
    assert {r.id: (r.ts, r.payload) for r in vt.read().collect()} == now


def test_merge_precedence_preserves_untouched_multirow_keys(spark, vt):
    """The precedence winner contest is restricted to keys present in
    the source: an append-built target holding MULTIPLE rows for a key
    the merge never touches keeps all of them byte-identical (round-6
    advice, medium — the all-rows row_number silently collapsed such
    keys to one row with no changelog images)."""
    vt.write(
        spark.createDataFrame(
            [(1, 10, "a")], "id bigint, ts bigint, payload string"
        )
    )
    # key 2 gets TWO rows via append — legal for a log-shaped table
    vt.write(
        spark.createDataFrame(
            [(2, 20, "x"), (2, 21, "y")],
            "id bigint, ts bigint, payload string",
        ),
        mode="append",
    )
    src = spark.createDataFrame(
        [(1, 11, "newer")], "id bigint, ts bigint, payload string"
    )
    v = vt.merge(src, on=["id"], precedence=["ts"], capture_changelog=True)
    rows = sorted((r.id, r.ts, r.payload) for r in vt.read().collect())
    assert rows == [(1, 11, "newer"), (2, 20, "x"), (2, 21, "y")]
    ch = vt.changelog(v - 1, v).collect()
    assert {r.id for r in ch} == {1}  # no images for the untouched key


def test_merge_precedence_tie_validator(spark, vt, monkeypatch):
    vt.write(
        spark.createDataFrame([(1, 10, "a")], "id bigint, ts bigint, p string")
    )
    src = spark.createDataFrame(
        [(1, 10, "DIFFERENT")], "id bigint, ts bigint, p string"
    )
    monkeypatch.setenv("SPARK_GRAFT_VALIDATE_PRECEDENCE", "1")
    with pytest.raises(VersioningError, match="not a per-key total order"):
        vt.merge(src, on=["id"], precedence=["ts"])


# -- round 9: schema evolution + merge-on-read equality deletes ---------


def test_alter_add_rename_drop_lifecycle(spark, vt):
    v1 = vt.write(_df(spark, 0, 3))
    vt.alter_table(adds=["tag string"])
    assert vt.read().columns == ["id", "v", "tag"]
    assert all(r.tag is None for r in vt.read().collect())
    v3 = vt.write(
        spark.createDataFrame([(10, 100, "x")], "id long, v long, tag string")
    )
    vt.alter_table(renames={"v": "val"})
    assert vt.read().columns == ["id", "val", "tag"]
    # old files translate through the rename chain
    assert {r.id: r.val for r in vt.read().collect()} == {
        0: 0, 1: 10, 2: 20, 10: 100
    }
    vt.alter_table(drops=["tag"])
    assert vt.read().columns == ["id", "val"]
    # time travel shows each era's own declared schema
    assert vt.read(version=v1).columns == ["id", "v"]
    assert vt.read(version=v3).columns == ["id", "v", "tag"]


def test_alter_validation_fails_loudly(spark, vt):
    vt.write(_df(spark, 0, 2))
    with pytest.raises(VersioningError, match="rename source"):
        vt.alter_table(renames={"nope": "x"})
    with pytest.raises(VersioningError, match="already exists"):
        vt.alter_table(renames={"v": "id"})
    with pytest.raises(VersioningError, match="drop column"):
        vt.alter_table(drops=["nope"])
    with pytest.raises(VersioningError, match="'name type'"):
        vt.alter_table(adds=["justaname"])
    with pytest.raises(VersioningError, match="already exists"):
        vt.alter_table(adds=["v long"])
    with pytest.raises(VersioningError, match="every column"):
        vt.alter_table(drops=["id", "v"])


def test_eq_delete_sequence_semantics_and_compaction(spark, vt):
    vt.write(_df(spark, 0, 6))
    vd = vt.delete_where_eq("id < 3", keys=["id"])
    assert sorted(r.id for r in vt.read().collect()) == [3, 4, 5]
    # re-insert a deleted key AFTER the delete: higher era, must survive
    vt.write(spark.createDataFrame([(1, 999)], "id long, v long"))
    assert sorted(r.id for r in vt.read().collect()) == [1, 3, 4, 5]
    # pre-delete snapshot unaffected; delete snapshot stays stable
    assert vt.read(version=vd).count() == 3
    # second delete hits both eras
    vt.delete_where_eq("id = 4", keys=["id"])
    assert sorted(r.id for r in vt.read().collect()) == [1, 3, 5]
    before = {(r.id, r.v) for r in vt.read().collect()}
    vc = vt.compact_eq_deletes()
    assert {(r.id, r.v) for r in vt.read().collect()} == before
    assert vt.snapshot(vc).eq_deletes == []
    with pytest.raises(VersioningError, match="no equality-delete"):
        vt.compact_eq_deletes()


def test_eq_delete_interacts_with_rename(spark, vt):
    vt.write(_df(spark, 0, 4))
    vt.delete_where_eq("v >= 20", keys=["id"])
    vt.alter_table(renames={"id": "key"})
    # delete keys recorded under the OLD name translate forward
    assert sorted(r.key for r in vt.read().collect()) == [0, 1]
    vt.write(spark.createDataFrame([(7, 70)], "key long, v long"))
    assert sorted(r.key for r in vt.read().collect()) == [0, 1, 7]


def test_changes_across_alter_boundary(spark, vt):
    v1 = vt.write(_df(spark, 0, 2))
    vt.alter_table(adds=["tag string"])
    vt.write(spark.createDataFrame([(5, 50, "t")], "id long, v long, tag string"))
    vt.alter_table(renames={"v": "val"})
    ch = vt.changes(v1)
    # only the post-v1 file, surfaced in the CURRENT namespace
    assert ch.columns == ["id", "val", "tag"]
    assert [(r.id, r.val, r.tag) for r in ch.collect()] == [(5, 50, "t")]


def test_expire_preserves_metadata_manifests(spark, vt):
    vt.write(_df(spark, 0, 2))
    vt.alter_table(renames={"v": "val"})          # metadata-bearing
    vt.write(_df(spark, 2, 4).withColumnRenamed("v", "val"))
    vt.write(_df(spark, 4, 6).withColumnRenamed("v", "val"))
    vt.write(_df(spark, 6, 8).withColumnRenamed("v", "val"))
    vt.expire_snapshots(keep_last=2)
    # the rename manifest survives expiry, so v1-era files still
    # translate correctly in the surviving head
    got = {r.id: r.val for r in vt.read().collect()}
    assert got == {i: i * 10 for i in range(8)}


def test_random_schema_and_mor_sequences_match_model(spark, tmp_path):
    """Round-9 state-machine fuzz (VERDICT r08 ask #2/#3), extended in
    round 10 (VERDICT r09 asks #2/#7): random interleavings of append /
    eq-delete / re-insert / ALTER add/rename/drop / TYPE WIDEN /
    add-after-drop NAME REUSE / delete-compaction / rollback, mirrored
    against a pure-Python model of (schema, coltypes, rows); after
    every step the real table's visible frame must equal the model
    (names, types AND values), and surviving snapshots must replay
    their recorded states with their recorded schemas."""
    import random

    rng = random.Random(20260816)
    vt = VersionedTable(spark, str(tmp_path / "evo_t"))
    # model: schema = ordered list of extra cols (beyond id), rows =
    # {id: {col: val}}; coltype tracks int/bigint per payload column
    # (new columns start int half the time so widen has targets);
    # retired collects dropped/renamed-away names for reuse
    schema: list[str] = ["v"]
    coltype: dict[str, str] = {"v": "bigint"}
    retired: list[str] = []
    rows: dict[int, dict[str, object]] = {}
    history: dict[int, tuple[list[str], dict, dict]] = {}
    next_id, next_col = 0, 0

    def snap_state():
        return (
            list(schema),
            dict(coltype),
            {k: dict(r) for k, r in rows.items()},
        )

    def fresh(n):
        nonlocal next_id
        out = {}
        for _ in range(n):
            out[next_id] = {c: next_id * 10 + j for j, c in enumerate(schema)}
            next_id += 1
        return out

    def to_df(batch):
        data = [(k, *[r[c] for c in schema]) for k, r in batch.items()]
        ddl = "id long, " + ", ".join(f"{c} {coltype[c]}" for c in schema)
        return spark.createDataFrame(data, ddl)

    def check(tag):
        df = vt.read()
        assert df.columns == ["id", *schema], f"{tag}: cols {df.columns}"
        want_types = {c: coltype[c].replace("bigint", "bigint") for c in schema}
        got_types = dict(df.dtypes)
        for c in schema:
            assert got_types[c] == want_types[c], (
                f"{tag}: {c} dtype {got_types[c]} != {want_types[c]}"
            )
        got = {r["id"]: {c: r[c] for c in schema} for r in df.collect()}
        assert got == rows, f"{tag}: {got} != {rows}"

    for step in range(28):
        op = rng.choice(
            ["append", "eq_delete", "add", "rename", "drop", "widen",
             "compact_deletes", "rollback", "append", "eq_delete"]
        )
        if op == "append" or not history:
            batch = fresh(rng.randint(1, 3))
            ver = vt.write(to_df(batch))
            rows.update(batch)
        elif op == "eq_delete" and rows:
            cut = rng.sample(sorted(rows), min(2, len(rows)))
            ver = vt.delete_where_eq(
                f"id in ({','.join(map(str, cut))})", keys=["id"]
            )
            for k in cut:
                rows.pop(k)
        elif op == "add":
            # half the time REUSE a retired name (the add-after-drop /
            # add-after-rename corner: must come back as a fresh NULL
            # column, never resurrect old-era data)
            if retired and rng.random() < 0.5:
                col = retired.pop(rng.randrange(len(retired)))
            else:
                col = f"c{next_col}"
                next_col += 1
            typ = rng.choice(["int", "bigint"])
            ver = vt.alter_table(adds=[f"{col} {typ}"])
            schema.append(col)
            coltype[col] = typ
            for r in rows.values():
                r[col] = None
        elif op == "rename" and schema:
            old = rng.choice(schema)
            new = f"{old}_r"
            if new in schema:
                continue
            ver = vt.alter_table(renames={old: new})
            schema[schema.index(old)] = new
            coltype[new] = coltype.pop(old)
            retired.append(old)
            for r in rows.values():
                r[new] = r.pop(old)
        elif op == "drop" and len(schema) > 1:
            col = rng.choice(schema[1:])  # keep at least one payload col
            ver = vt.alter_table(drops=[col])
            schema.remove(col)
            coltype.pop(col)
            retired.append(col)
            for r in rows.values():
                r.pop(col)
        elif op == "widen":
            narrow = [c for c in schema if coltype[c] == "int"]
            if not narrow:
                continue
            col = rng.choice(narrow)
            ver = vt.alter_column_type({col: "bigint"})
            coltype[col] = "bigint"
        elif op == "compact_deletes":
            cur = vt.current_version()
            if not vt.snapshot(cur).eq_deletes:
                continue
            ver = vt.compact_eq_deletes()
        elif op == "rollback" and history:
            ver = rng.choice(sorted(history))
            vt.rollback(ver)
            s, t, r = history[ver]
            schema = list(s)
            coltype = dict(t)
            rows = {k: dict(v) for k, v in r.items()}
            retired = [c for c in retired if c not in schema]
            check(f"step {step} rollback->v{ver}")
            continue
        else:
            continue
        history[ver] = snap_state()
        check(f"step {step} {op}")

    for v, (s, t, r) in history.items():
        try:
            df = vt.read(version=v)
        except VersioningError:
            continue  # version abandoned by a rollback branch
        assert df.columns == ["id", *s], f"v{v} schema drifted"
        got = {x["id"]: {c: x[c] for c in s} for x in df.collect()}
        assert got == r, f"v{v} state drifted"


def test_cli_alter_delete_eq_and_merge(spark, tmp_path, capsys):
    import json as _json

    from aws_iceberg_automation_spark.cli import main

    root = str(tmp_path / "t")
    vt = VersionedTable(spark, root)
    vt.write(_df(spark, 0, 6))
    # metadata-only ALTER via CLI
    assert main(["alter", root, "--add", "tag string", "--rename", "v=val"]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["schema"] == [["id", "bigint"], ["val", "bigint"], ["tag", "string"]]
    assert vt.read().columns == ["id", "val", "tag"]
    # MOR equality delete via CLI
    assert main(["delete-eq", root, "id < 2", "--keys", "id"]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["op"] == "delete-eq" and out["n_delete_files"] >= 1
    assert sorted(r.id for r in vt.read().collect()) == [2, 3, 4, 5]
    # compaction folds the delete files away without changing reads
    assert main(["delete-eq", root, "--compact"]) == 0
    out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["op"] == "rewrite-deletes" and out["n_delete_files"] == 0
    assert sorted(r.id for r in vt.read().collect()) == [2, 3, 4, 5]
    # 3-way merge via CLI: branch edits id=3 (val -> 999), main appends
    vt.create_branch("fix")
    fixed = vt.read().withColumn(
        "val", F.when(F.col("id") == 3, F.lit(999)).otherwise(F.col("val"))
    )
    vt.write(fixed, mode="overwrite", branch="fix")
    vt.write(
        spark.createDataFrame([(10, 100, None)], "id long, val long, tag string")
    )
    assert main(["branch", root, "merge", "fix", "--on", "id"]) == 0
    out_lines = capsys.readouterr().out.strip().splitlines()
    res = _json.loads(out_lines[0])
    assert res["keys_from_branch"] == 1
    got = {r.id: r.val for r in vt.read().collect()}
    assert got == {2: 20, 3: 999, 4: 40, 5: 50, 10: 100}
    # merge requires --on
    vt.create_branch("fix2")
    assert main(["branch", root, "merge", "fix2"]) == 1


# -- round-10: type widening, name reuse, branch metadata, merge resolve --


def test_alter_column_type_widen_across_boundary(spark, vt):
    df = spark.createDataFrame([(1, 7), (2, 8)], "id long, qty int")
    v1 = vt.write(df)
    v2 = vt.alter_column_type({"qty": "bigint"})
    # post-widen files carry the wide type physically
    v3 = vt.write(spark.createDataFrame([(3, 2**40)], "id long, qty bigint"))
    # time travel below the widen era shows the column's OWN type
    assert dict(vt.read(version=v1).dtypes)["qty"] == "int"
    assert dict(vt.read(version=v2).dtypes)["qty"] == "bigint"
    got = dict(vt.read(version=v3).dtypes)
    assert got["qty"] == "bigint"
    assert {r.id: r.qty for r in vt.read().collect()} == {1: 7, 2: 8, 3: 2**40}


def test_alter_column_type_rejects_illegal(spark, vt):
    vt.write(spark.createDataFrame([(1, 7, 1.5)], "id long, qty int, w float"))
    with pytest.raises(VersioningError, match="illegal type promotion"):
        vt.alter_column_type({"id": "int"})  # narrowing
    with pytest.raises(VersioningError, match="illegal type promotion"):
        vt.alter_column_type({"qty": "double"})  # cross-family
    with pytest.raises(VersioningError, match="not in"):
        vt.alter_column_type({"nope": "bigint"})
    # float → double is legal
    vt.alter_column_type({"w": "double"})
    assert dict(vt.read().dtypes)["w"] == "double"


def test_alter_column_type_decimal_widen(spark, vt):
    df = spark.sql("SELECT 1L AS id, CAST(1.25 AS DECIMAL(5,2)) AS amt")
    vt.write(df)
    with pytest.raises(VersioningError, match="illegal"):
        vt.alter_column_type({"amt": "decimal(4,2)"})  # precision narrow
    with pytest.raises(VersioningError, match="illegal"):
        vt.alter_column_type({"amt": "decimal(10,4)"})  # scale change
    vt.alter_column_type({"amt": "decimal(18,2)"})
    assert dict(vt.read().dtypes)["amt"] == "decimal(18,2)"
    assert str(vt.read().collect()[0].amt) == "1.25"


def test_widen_interacts_with_rename_and_eq_delete(spark, vt):
    vt.write(spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "id int, v long"))
    vt.delete_where_eq("v = 20", keys=["id"])   # delete file stores int ids
    vt.alter_column_type({"id": "bigint"})      # widen the delete KEY column
    vt.alter_table(renames={"id": "key"})
    assert dict(vt.read().dtypes)["key"] == "bigint"
    assert sorted(r.key for r in vt.read().collect()) == [1, 3]
    # later re-insert of the deleted key survives (sequence semantics)
    vt.write(spark.createDataFrame([(2, 200)], "key bigint, v long"))
    assert sorted((r.key, r.v) for r in vt.read().collect()) == [
        (1, 10), (2, 200), (3, 30)]


def test_add_after_drop_name_reuse_stays_era_correct(spark, vt):
    """A later ADD that reuses a dropped column's NAME is a brand-new
    column: old-era files must NULL-backfill it, never resurrect the
    dropped data (Iceberg gets this from field IDs; the tombstone
    rename in alter_table is the name-based equivalent)."""
    vt.write(spark.createDataFrame([(1, "secret")], "id long, note string"))
    v_drop = vt.alter_table(drops=["note"])
    vt.alter_table(adds=["note string"])
    vt.write(spark.createDataFrame([(2, "fresh")], "id long, note string"))
    got = {r.id: r.note for r in vt.read().collect()}
    assert got == {1: None, 2: "fresh"}
    # time travel: the drop-era read has no 'note' at all
    assert vt.read(version=v_drop).columns == ["id"]


def test_rename_onto_previously_dropped_name(spark, vt):
    vt.write(spark.createDataFrame([(1, 10, 99)], "id long, v long, old long"))
    vt.alter_table(drops=["old"])
    vt.alter_table(renames={"v": "old"})  # recycle the dropped name
    got = vt.read().collect()[0]
    assert vt.read().columns == ["id", "old"]
    assert (got.id, got.old) == (1, 10)  # v's data, not the dropped 99


def test_branch_write_preserves_alter_and_mor(spark, vt):
    """Round-9 ADVICE (high): branch staging used to rebuild its
    manifest by hand, dropping schema/rename_log/eq_deletes — an
    append to a branch of an ALTERed + MOR-deleted table silently
    resurrected deleted rows and reverted renames."""
    vt.write(spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "id long, v long"))
    vt.alter_table(renames={"v": "val"}, adds=["tag string"])
    vt.delete_where_eq("val = 20", keys=["id"])
    vt.create_branch("stage")
    vt.write(
        spark.createDataFrame([(9, 90, "t")], "id long, val long, tag string"),
        branch="stage",
    )
    got = {r.id: (r.val, r.tag) for r in vt.read_branch("stage").collect()}
    # renamed column intact, added column intact, deleted row STILL deleted
    assert got == {1: (10, None), 3: (30, None), 9: (90, "t")}
    assert vt.read_branch("stage").columns == ["id", "val", "tag"]
    # publish fast-forwards the correct semantics to main
    vt.publish_branch("stage")
    assert {r.id for r in vt.read().collect()} == {1, 3, 9}


def test_alter_on_branch_moves_only_the_ref(spark, vt):
    vt.write(spark.createDataFrame([(1, 10)], "id int, v long"))
    main_head = vt.current_version()
    vt.create_branch("b")
    vt.alter_table(renames={"v": "val"}, branch="b")
    vt.alter_column_type({"id": "bigint"}, branch="b")
    assert vt.current_version() == main_head
    assert vt.read().columns == ["id", "v"]
    assert dict(vt.read().dtypes)["id"] == "int"
    assert vt.read_branch("b").columns == ["id", "val"]
    assert dict(vt.read_branch("b").dtypes)["id"] == "bigint"


def test_merge_conflicts_and_resolve(spark, vt):
    vt.write(spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "id long, v long"))
    vt.create_branch("b")
    # branch edits id=2 -> 222 and id=3 -> 333
    vt.write(
        spark.createDataFrame([(1, 10), (2, 222), (3, 333)], "id long, v long"),
        mode="overwrite", branch="b")
    # main edits id=2 -> 200 (conflict with branch) and adds id=4
    vt.write(spark.createDataFrame(
        [(1, 10), (2, 200), (3, 30), (4, 40)], "id long, v long"),
        mode="overwrite")
    conf = vt.merge_conflicts("b", on=["id"])
    assert [r.id for r in conf.collect()] == [2]
    with pytest.raises(VersioningError, match="conflicting"):
        vt.merge_branch("b", on=["id"])
    res = vt.merge_branch("b", on=["id"], resolve="theirs")
    assert res["conflicts"] == 1
    got = {r.id: r.v for r in vt.read().collect()}
    assert got == {1: 10, 2: 222, 3: 333, 4: 40}


def test_merge_resolve_ours_keeps_main_conflicts(spark, vt):
    vt.write(spark.createDataFrame([(1, 10), (2, 20)], "id long, v long"))
    vt.create_branch("b")
    vt.write(
        spark.createDataFrame([(1, 111), (2, 222)], "id long, v long"),
        mode="overwrite", branch="b")
    vt.write(spark.createDataFrame([(1, 100), (2, 20)], "id long, v long"),
             mode="overwrite")
    res = vt.merge_branch("b", on=["id"], resolve="ours")
    got = {r.id: r.v for r in vt.read().collect()}
    # id=1 conflicted -> main's 100 kept; id=2 branch-only change taken
    assert got == {1: 100, 2: 222}
    assert res["conflicts"] == 1
    with pytest.raises(VersioningError, match="resolve must be"):
        vt.create_branch("b2")
        vt.merge_branch("b2", on=["id"], resolve="keep-both")


def test_merge_reconciles_mid_branch_rename_and_add(spark, vt):
    vt.write(spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30)], "id long, v long"))
    vt.create_branch("evo")
    vt.alter_table(renames={"v": "val"}, branch="evo")
    vt.alter_table(adds=["tag string"], branch="evo")
    vt.write(
        spark.createDataFrame([(9, 90, "new")],
                              "id long, val long, tag string"), branch="evo")
    # main advances independently (no overlap -> no conflict)
    vt.write(spark.createDataFrame([(4, 40)], "id long, v long"))
    res = vt.merge_branch("evo", on=["id"])
    assert res["conflicts"] == 0
    out = vt.read()
    assert sorted(out.columns) == ["id", "tag", "val"]
    got = {r.id: (r.val, r.tag) for r in out.collect()}
    assert got == {1: (10, None), 2: (20, None), 3: (30, None),
                   4: (40, None), 9: (90, "new")}


def test_merge_reconciles_mid_branch_widen_and_drop(spark, vt):
    vt.write(spark.createDataFrame(
        [(1, 7, "x"), (2, 8, "y")], "id long, qty int, junk string"))
    vt.create_branch("evo")
    vt.alter_column_type({"qty": "bigint"}, branch="evo")
    vt.alter_table(drops=["junk"], branch="evo")
    vt.write(
        spark.createDataFrame([(3, 2**40)], "id long, qty bigint"), branch="evo")
    vt.write(spark.createDataFrame(
        [(4, 9, "z")], "id long, qty int, junk string"))
    res = vt.merge_branch("evo", on=["id"])
    out = vt.read()
    assert res["conflicts"] == 0
    assert sorted(out.columns) == ["id", "qty"]
    assert dict(out.dtypes)["qty"] == "bigint"
    assert {r.id: r.qty for r in out.collect()} == {
        1: 7, 2: 8, 3: 2**40, 4: 9}


def test_merge_rejects_dtype_mismatch_and_no_payload(spark, vt):
    vt.write(spark.createDataFrame([(1, 10)], "id long, v long"))
    vt.create_branch("b")
    with pytest.raises(VersioningError, match="cover every column"):
        vt.merge_branch("b", on=["id", "v"])


# -- one commit path: incremental reads across ALTER and branch commits --


def test_changelog_across_add_column_alter(spark, vt):
    vt.write(_df(spark, 0, 5))
    vt.write(_df(spark, 5, 7))
    vt.alter_table(adds=["note string"])
    vt.write(spark.createDataFrame(
        [(9, 90, "new")], "id long, v long, note string"))
    out = vt.changelog(1, 4)
    assert out.columns == ["id", "v", "note", "_change_type", "_commit_version"]
    got = sorted(
        (r.id, r.v, r.note, r._change_type, r._commit_version)
        for r in out.collect()
    )
    assert got == [
        (5, 50, None, "insert", 2),
        (6, 60, None, "insert", 2),
        (9, 90, "new", "insert", 4),
    ]


def test_changes_across_alter_column_type(spark, vt):
    vt.write(spark.createDataFrame([(1, 10), (2, 20)], "id long, v int"))
    vt.write(spark.createDataFrame([(3, 30)], "id long, v int"))
    vt.alter_column_type({"v": "bigint"})
    vt.write(spark.createDataFrame([(4, 2**40)], "id long, v bigint"))
    inc = vt.changes(1, 4)
    assert dict(inc.dtypes)["v"] == "bigint"
    assert sorted((r.id, r.v) for r in inc.collect()) == [(3, 30), (4, 2**40)]


def test_changes_after_wap_feeds_the_view_delta_path(spark, tmp_path):
    from aws_iceberg_automation_spark.matview import IncrementalAggView, Measure
    from aws_iceberg_automation_spark.operators.dq import Rule

    src = VersionedTable(spark, str(tmp_path / "src"))
    mv = IncrementalAggView(
        spark, src, str(tmp_path / "mv"), group_by=["k"],
        measures=[Measure("n", "count")],
    )
    rows = _df(spark, 0, 5).withColumn("k", F.col("id") % 2)
    src.write(rows)
    mv.refresh()
    out = src.write_audit_publish(
        _df(spark, 5, 10).withColumn("k", F.col("id") % 2),
        [Rule("v_non_negative", F.col("v") >= 0)],
    )
    assert out["published"] is True
    assert sorted(r.id for r in src.changes(1).collect()) == [5, 6, 7, 8, 9]
    state_v = mv.refresh()
    assert mv.state.snapshot(state_v).op == f"refresh:{out['version']}:delta"
    assert {r.k: r.n for r in mv.read().collect()} == {0: 5, 1: 5}


def test_branch_overwrite_declares_the_frames_schema(spark, vt):
    vt.write(spark.createDataFrame([(1, 10)], "id long, val long"))
    vt.alter_table(adds=["tag string"])
    vt.create_branch("b")
    bv = vt.write(
        spark.createDataFrame([(2, "x")], "id long, val string"),
        mode="overwrite", branch="b",
    )
    assert vt.snapshot(bv).schema == [["id", "bigint"], ["val", "string"]]
    assert vt.read_branch("b").dtypes == [("id", "bigint"), ("val", "string")]
    assert [(r.id, r.val) for r in vt.read_branch("b").collect()] == [(2, "x")]


def test_commit_decodes_a_constant_number_of_manifests(spark, vt, monkeypatch):
    """A commit finds its version number from the manifest names: the
    10th commit decodes as many manifests as the 2nd (its parent's),
    not one per earlier snapshot."""
    decodes = []
    decode = VersionedTable.snapshot

    def counting(self, version):
        decodes.append(version)
        return decode(self, version)

    monkeypatch.setattr(VersionedTable, "snapshot", counting)
    per_commit = {}
    for n in range(1, 11):
        decodes.clear()
        assert vt.write(_df(spark, n, n + 1)) == n
        per_commit[n] = len(decodes)
    assert per_commit[10] == per_commit[2] == 1


# -- changelog in the head's namespace after a rewrite ---------------------


def test_changelog_uncaptured_delete_then_rename(spark, vt):
    vt.write(_df(spark, 0, 4))
    vt.delete_where("id = 1")  # NOT captured → snapshot diff
    vt.alter_table(renames={"v": "val"})
    out = vt.changelog(1, 3)
    assert out.columns == ["id", "val", "_change_type", "_commit_version"]
    assert [
        (r.id, r.val, r._change_type, r._commit_version) for r in out.collect()
    ] == [(1, 10, "delete", 2)]


def test_changelog_captured_merge_then_rename_and_add(spark, vt):
    vt.write(_df(spark, 0, 3))
    src = spark.createDataFrame([(2, 200), (5, 500)], "id long, v long")
    vt.merge(src, on=["id"], capture_changelog=True)
    vt.alter_table(renames={"v": "val"}, adds=["note string"])
    out = vt.changelog(1, 3)
    assert out.columns == ["id", "val", "note", "_change_type", "_commit_version"]
    assert sorted(
        (r._change_type, r.id, r.val, r.note, r._commit_version)
        for r in out.collect()
    ) == [
        ("insert", 5, 500, None, 2),
        ("update_after", 2, 200, None, 2),
        ("update_before", 2, 20, None, 2),
    ]
