"""Versioned parquet tables: time travel (#15) without the Iceberg JAR.

Iceberg's snapshot model, re-expressed minimally (parity target:
reference tables are Iceberg format-version 2, whose time travel the
gated path in catalog.py:141 exposes via ``FOR VERSION AS OF``): a
table is an append-only set of immutable data files plus a chain of
tiny JSON manifests, one per committed snapshot, each listing exactly
the files visible at that version; a CURRENT pointer names the live
snapshot. Readers resolve a manifest and scan only its files — old
snapshots stay readable forever, writers never mutate what a reader
might hold.

Layout::

    <root>/data/v<N>/part-*.parquet   immutable per-commit file sets
    <root>/_versions/v<N>.json        {"version", "parent", "ts", "op", "files"}
    <root>/_versions/CURRENT          the live version number

Scale/honesty notes:

- Data writes are fully distributed (plain ``df.write.parquet`` into a
  fresh directory); only the manifest (a file list) touches the driver,
  same as Iceberg's metadata layer.
- File enumeration goes through ``DataFrame.inputFiles()`` — the Hadoop
  FileSystem API — so any fs scheme Spark can read works.
- Commit atomicity is a tmp-write + rename of CURRENT: safe for a
  single writer. Concurrent-writer CAS is exactly what a real catalog
  (Iceberg + Glue/Hive/REST) provides — use the Iceberg path when the
  runtime is present; this class is the fallback that keeps the #15
  semantics (and your rollback story) working everywhere else.
"""

from __future__ import annotations

import json
import os
import re
import urllib.parse
from dataclasses import dataclass, field, replace
from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


class VersioningError(RuntimeError):
    pass


def _local_path(uri: str) -> str:
    """Manifest file-URI -> local filesystem path ("file:/x" and
    "file:///x" both -> "/x"). The ONLY normalization used when
    comparing manifest entries against os.* listings — one helper so
    expire/orphan/size paths can never disagree on path form.

    Spark's ``inputFiles()`` returns percent-ENCODED URIs (a space in a
    string partition value arrives as ``%20``) while ``os.walk`` yields
    raw paths — without unquoting, a live file never matches its disk
    listing and ``orphan_files(remove=True)`` would delete committed
    data. Only the scheme-stripped form is unquoted; a raw path that
    legitimately contains ``%`` is passed through untouched."""
    if uri.startswith("file:"):
        return urllib.parse.unquote(re.sub(r"^file:/+", "/", uri))
    return uri


@dataclass
class Snapshot:
    """One committed version's manifest. Every snapshot is its parent
    plus the fields its commit changes (``VersionedTable._commit``, on
    main or on a branch): ``version``, ``parent``, ``ts`` and ``op`` are
    always the commit's own, ``renames`` is empty unless the commit
    renamed, and every other field is carried from the parent unless
    the commit names it. So declared schema, rename/type history and
    equality deletes survive data commits, and an ALTER keeps the
    parent's files and bounds. A manifest is read back the same way,
    as the empty table plus the fields it records."""

    version: int
    parent: int | None
    ts: str  # ISO-8601 UTC commit time
    op: str  # "append" | "overwrite" | "alter" | "delete-eq" | ...
    files: list[str]
    # per-file column bounds for scan pruning: {file: {col: [min, max]}}.
    # Optional — manifests written before stats existed load fine and
    # simply never prune.
    stats: dict[str, dict[str, list]] = field(default_factory=dict)
    # Schema evolution (Iceberg metadata-only ALTER, round-9):
    # ``renames`` is THIS commit's old→new column map (a rename never
    # rewrites data files — readers translate old-era files forward
    # through the chain of rename commits); ``schema`` is the declared
    # [[name, type], ...] column list in force AFTER this commit, or
    # None for schema-on-files tables (every pre-round-9 manifest).
    renames: dict[str, str] = field(default_factory=dict)
    # Cumulative era-tagged rename history [[era, old, new], ...] —
    # SELF-CONTAINED in every manifest (carried forward by each commit)
    # so reads never depend on ancestor manifests surviving
    # expire_snapshots. A rename at era E translates files of era < E.
    rename_log: list = field(default_factory=list)
    schema: list | None = None
    # Equality-delete files (Iceberg v2 merge-on-read): each entry is
    # {"files": [paths], "keys": [cols], "era": commit version}. A
    # delete applies only to data files written in an era STRICTLY
    # BEFORE the delete's era (Iceberg sequence-number semantics), so
    # a later re-insert of a deleted key survives.
    eq_deletes: list = field(default_factory=list)
    # Cumulative era-tagged type-promotion history [[era, col, to]]
    # (Iceberg v2 legal widens: int→bigint, float→double,
    # decimal(p,s)→decimal(p',s)). Like rename_log it is SELF-CONTAINED
    # per manifest; a widen at era E casts files of era < E at read —
    # data files are never rewritten, and time travel below E shows the
    # column's own narrower type. ``col`` is the column's name AS OF
    # the widen era (the replay applies renames and widens in one
    # era-ordered pass, so names always line up).
    type_log: list = field(default_factory=list)


# The table before its first commit: the parent of that commit, and the
# defaults a manifest written before a field existed decodes with.
_EMPTY_TABLE = Snapshot(version=0, parent=None, ts="", op="", files=[])


def _schema_of(df: DataFrame) -> list:
    """A frame's columns in the manifest's [[name, type], ...] form."""
    return [[f.name, f.dataType.simpleString()] for f in df.schema.fields]


def _project(df: DataFrame, schema: list, *extra: str) -> DataFrame:
    """``df`` as the declared ``schema`` ([[name, type], ...]) plus the
    ``extra`` columns: a declared column the frame lacks (added after
    it was written) reads NULL, a frame column the schema lacks
    (dropped) is hidden."""
    return df.select(
        *[
            F.col(name) if name in df.columns else F.lit(None).cast(typ).alias(name)
            for name, typ in schema
        ],
        *extra,
    )


def _adds_rows_only(parent: Snapshot, snap: Snapshot) -> bool:
    """True when commit ``snap`` only adds rows to ``parent``: it drops
    none of the parent's files and adds no equality delete. Appends
    (batch, streaming, branch) and ALTERs qualify; overwrites, merges,
    deletes and compactions do not. Incremental reads rest on this."""
    return set(parent.files) <= set(snap.files) and (
        snap.eq_deletes == parent.eq_deletes
    )


# JSON-representable bound types we collect and compare. Everything else
# (timestamps, decimals, binary, nested) is skipped → files with only
# such columns are never pruned on them (conservative).
_BOUND_TYPES = (int, float, str, bool)


def _collect_file_stats(files: list[str]) -> dict[str, dict[str, list]]:
    """Per-file column min/max from the parquet footers the writer
    already produced — the same source Iceberg mines for its manifest
    stats; no data pages are read. Parquet writers may truncate binary
    bounds, but the spec requires truncated min/max to remain valid
    lower/upper bounds, so pruning against them stays conservative.
    Columns with any row group missing min/max (e.g. all-null) are
    dropped for that file."""
    import pyarrow.parquet as pq

    out: dict[str, dict[str, list]] = {}
    for f in files:
        local = _local_path(f)
        try:
            md = pq.ParquetFile(local).metadata
        except Exception:
            continue  # unreadable footer → no stats, file never pruned
        bounds: dict[str, list] = {}
        dropped: set[str] = set()
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                name = col.path_in_schema
                if "." in name or name in dropped:
                    continue  # nested leaves don't map to top-level cols
                st = col.statistics
                try:
                    # pyarrow RAISES (ArrowNotImplementedError) merely
                    # ACCESSING .min/.max for some logical types it
                    # can't cast — e.g. Spark-written INT64-backed
                    # DECIMAL(<=18,s) — rather than reporting
                    # has_min_max=False. No stats → never pruned,
                    # same conservative posture as an unreadable footer.
                    unusable = (
                        st is None
                        or not st.has_min_max
                        or not isinstance(st.min, _BOUND_TYPES)
                        or not isinstance(st.max, _BOUND_TYPES)
                    )
                except Exception:
                    unusable = True
                if unusable:
                    dropped.add(name)
                    bounds.pop(name, None)
                    continue
                if name in bounds:
                    bounds[name][0] = min(bounds[name][0], st.min)
                    bounds[name][1] = max(bounds[name][1], st.max)
                else:
                    bounds[name] = [st.min, st.max]
        out[f] = bounds
    return out


def _partition_bounds_from_path(file: str) -> dict[str, list]:
    """Exact [v, v] bounds from hive-style ``col=val`` path segments —
    the manifest-side mirror of the directory layout, typed by best
    effort (int, then float, else unescaped string). Null partitions
    (__HIVE_DEFAULT_PARTITION__) contribute no bound (conservative:
    the file is never pruned on that column)."""
    from urllib.parse import unquote

    out: dict[str, list] = {}
    for seg in os.path.dirname(file).split("/"):
        if "=" not in seg:
            continue
        col, _, raw = seg.partition("=")
        if raw == "__HIVE_DEFAULT_PARTITION__":
            continue
        val: object = unquote(raw)
        for cast in (int, float):
            try:
                val = cast(raw)
                break
            except ValueError:
                continue
        out[col] = [val, val]
    return out


def _may_match(bounds: dict[str, list], col: str, op: str, val: object) -> bool:
    """Can a file whose column ranges are ``bounds`` contain a row
    satisfying ``col <op> val``? Unknown column/op/type → True (never
    prune on uncertainty)."""
    if col not in bounds:
        return True
    mn, mx = bounds[col]
    try:
        if op in ("=", "=="):
            return mn <= val <= mx
        if op == "!=":
            return not (mn == mx == val)
        if op == ">":
            return mx > val
        if op == ">=":
            return mx >= val
        if op == "<":
            return mn < val
        if op == "<=":
            return mn <= val
        if op == "in":
            return any(mn <= v <= mx for v in val)  # type: ignore[union-attr]
    except TypeError:
        return True  # cross-type comparison (e.g. str bound vs int val)
    return True


def _filters_to_column(filters: list[tuple[str, str, object]]) -> Column:
    """The residual predicate (re-applied after pruning, so results
    never depend on stats being present or exact)."""
    out = F.lit(True)
    for col, op, val in filters:
        c = F.col(col)
        if op in ("=", "=="):
            expr = c == val
        elif op == "!=":
            expr = c != val
        elif op == ">":
            expr = c > val
        elif op == ">=":
            expr = c >= val
        elif op == "<":
            expr = c < val
        elif op == "<=":
            expr = c <= val
        elif op == "in":
            expr = c.isin(list(val))  # type: ignore[arg-type]
        else:
            raise VersioningError(f"unsupported filter op {op!r}")
        out = out & expr
    return out


def session_fixture_dir(spark: SparkSession, prefix: str) -> str:
    """Deterministic per-session scratch directory for fixture-built
    VersionedTables inside registry queries (q271/q274/q277/q281/q283),
    following q284's applicationId-tag pattern (round-6 advice): a
    fresh ``mkdtemp`` per invocation leaks /tmp without bound across
    sweeps/bench/pytest because the returned DataFrame reads the files
    lazily, so inline cleanup is impossible. Instead: one directory per
    (prefix, session) under ``<warehouse>/_fixtures``, and EVERY
    invocation first GCs all same-prefix copies — stale sessions' and
    this session's own previous one — so the table is rebuilt from
    scratch with deterministic version numbers and disk growth is
    bounded at one live copy per prefix. Safe under the repo-wide
    single-Spark-process discipline (the q196 rule); a DataFrame handle
    from a PREVIOUS invocation must not be re-collected after the next
    invocation starts (gate/bench/pytest are strictly sequential)."""
    import shutil

    tag = spark.sparkContext.applicationId.replace("-", "_").lower()
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    base = os.path.join(_local_path(wh), "_fixtures")
    os.makedirs(base, exist_ok=True)
    for name in os.listdir(base):
        if name == prefix or name.startswith(prefix + "_"):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
    d = os.path.join(base, f"{prefix}_{tag}")
    os.makedirs(d, exist_ok=True)
    return d


class VersionedTable:
    """Path-based versioned table (the shape of Iceberg's HadoopTables)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        # absolutize: manifests store absolute file URIs, and orphan
        # detection compares them against walks of this root — a
        # relative root would make every live file look orphaned
        self.root = os.path.abspath(root.rstrip("/"))
        self._meta = os.path.join(self.root, "_versions")
        os.makedirs(self._meta, exist_ok=True)
        # version -> op tag of every manifest this object has seen
        # (``op_log``)
        self._op_of: dict[int, str] = {}

    # -- metadata ------------------------------------------------------

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._meta, f"v{version}.json")

    def current_version(self) -> int | None:
        try:
            with open(os.path.join(self._meta, "CURRENT")) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def snapshot(self, version: int) -> Snapshot:
        try:
            with open(self._manifest_path(version)) as f:
                return replace(_EMPTY_TABLE, **json.load(f))
        except FileNotFoundError:
            raise VersioningError(
                f"no snapshot v{version} in {self.root} "
                f"(have: {self._versions()})"
            ) from None

    def _versions(self) -> list[int]:
        """The committed version numbers, ascending, from the
        ``v<N>.json`` manifest names alone (no manifest is opened)."""
        return sorted(
            int(name[1:-5])
            for name in os.listdir(self._meta)
            if name.startswith("v") and name.endswith(".json")
        )

    def snapshots(self) -> list[Snapshot]:
        """The snapshot log (Iceberg's ``<table>.snapshots`` analog)."""
        return [self.snapshot(v) for v in self._versions()]

    def op_log(self) -> list[str]:
        """Every committed version's op tag, by ascending version: the
        snapshot log's tags at the cost of the manifests committed since
        the last call. A manifest never changes once written and expiry
        always keeps the newest, so no version number is reused: each
        manifest is decoded at most once per table object (never, when
        this object committed it), and expired versions drop out."""
        versions = self._versions()
        for v in versions:
            if v not in self._op_of:
                self._op_of[v] = self.snapshot(v).op
        return [self._op_of[v] for v in versions]

    def _resolve_version(
        self, version: int | None = None, as_of_timestamp: str | None = None
    ) -> int:
        """VERSION AS OF, TIMESTAMP AS OF (ISO-8601: the latest snapshot
        committed at-or-before), or CURRENT when neither is given."""
        if version is not None and as_of_timestamp is not None:
            raise VersioningError("pass version OR as_of_timestamp, not both")
        if as_of_timestamp is not None:
            eligible = [s for s in self.snapshots() if s.ts <= as_of_timestamp]
            if not eligible:
                raise VersioningError(
                    f"no snapshot at or before {as_of_timestamp!r}"
                )
            return eligible[-1].version
        if version is None:
            version = self.current_version()
            if version is None:
                raise VersioningError(f"empty versioned table at {self.root}")
        return version

    def _next_version(self) -> int:
        """Monotonic across rollback branches (Iceberg snapshot-id
        style): an abandoned snapshot's number is never reused, so its
        immutable data directory can't collide with a new commit."""
        versions = self._versions()
        return (versions[-1] if versions else 0) + 1

    def _head(self, branch: str | None = None) -> Snapshot | None:
        """The snapshot a commit builds on: CURRENT on main, the branch
        head with ``branch=``; None before an empty table's first
        commit."""
        if branch is None:
            v = self.current_version()
        else:
            v = self._branch_refs(branch)[branch]["version"]
        return None if v is None else self.snapshot(v)

    def _commit(
        self,
        parent: Snapshot | None,
        version: int,
        op: str,
        branch: str | None = None,
        **changed,
    ) -> int:
        """Write snapshot ``version`` as ``parent`` plus the ``changed``
        fields, then move CURRENT, or the ``branch`` ref."""
        manifest = replace(
            parent or _EMPTY_TABLE,
            **{
                "version": version,
                "parent": None if parent is None else parent.version,
                "ts": datetime.now(timezone.utc).isoformat(),
                "op": op,
                "renames": {},
                **changed,
            },
        )
        path = self._manifest_path(version)
        if os.path.exists(path):
            raise VersioningError(
                f"snapshot v{version} already exists — concurrent writer? "
                "(single-writer commit protocol; use Iceberg for multi-writer)"
            )
        with open(path, "w") as f:
            json.dump(manifest.__dict__, f)
        self._op_of[version] = op
        self._move(branch, version)
        return version

    def _move(self, branch: str | None, version: int) -> None:
        """Point CURRENT (``branch=None``) or a branch ref at
        ``version``. CURRENT moves by tmp-write + rename."""
        if branch is not None:
            refs = self.refs()
            refs[branch]["version"] = version
            self._write_refs(refs)
            return
        tmp = os.path.join(self._meta, "CURRENT.tmp")
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, os.path.join(self._meta, "CURRENT"))

    # -- write (#17/#18 with history) ----------------------------------

    def write(
        self,
        df: DataFrame,
        mode: str = "append",
        partition_by: list[str] | None = None,
        branch: str | None = None,
        _op: str | None = None,
    ) -> int:
        """Commit df as a new snapshot; returns the new version.
        ``append`` keeps the parent's files visible, ``overwrite``
        replaces the visible set — either way data files are only ever
        ADDED on disk, so every prior snapshot stays readable.

        ``partition_by`` writes the commit's files hive-partitioned
        (``col=val`` directories). Partition values are folded into the
        manifest's per-file bounds as exact [v, v] ranges, so
        ``scan(filters)`` prunes on partition predicates with zero
        extra machinery — directory layout and manifest pruning agree
        by construction. Partition specs are PER SNAPSHOT (Iceberg's
        partition-spec evolution): later commits may partition
        differently or not at all; readers stitch mixed layouts back
        together transparently (see ``_read_files``).

        ``branch=`` commits onto that branch's head and moves only its
        ref (op ``branch-<mode>``) — the staging half of
        write-audit-publish: CURRENT is untouched, so main readers keep
        snapshot isolation from in-audit data."""
        if mode not in ("append", "overwrite"):
            raise VersioningError(f"mode must be append/overwrite, got {mode!r}")
        parent = self._head(branch)
        new_version = self._next_version()
        data_dir = os.path.join(self.root, "data", f"v{new_version}")
        writer = df.write.mode("errorifexists")
        if partition_by:
            missing = [c for c in partition_by if c not in df.columns]
            if missing:
                raise VersioningError(f"partition_by columns not in df: {missing}")
            writer = writer.partitionBy(*partition_by)
        writer.parquet(data_dir)
        reader = self.spark.read
        if partition_by:
            reader = reader.option("basePath", data_dir)
        # Manifests store DECODED local paths: inputFiles() returns
        # percent-encoded URIs, which (a) never match os.walk listings
        # in orphan/expire passes and (b) fail a literal re-read when a
        # string partition value contains an encodable char (space).
        files = [_local_path(f) for f in reader.parquet(data_dir).inputFiles()]
        stats = _collect_file_stats(files)
        if partition_by:
            for f in files:
                stats.setdefault(f, {}).update(_partition_bounds_from_path(f))
        if mode == "append" and parent is not None:
            # carried files keep their already-collected bounds and the
            # equality deletes that cover them; the new files post-date
            # those deletes (higher era), so reads never filter them
            changed = {
                "files": sorted(files + parent.files),
                "stats": {**stats, **parent.stats},
            }
        else:
            # an overwrite replaces the visible file set, so pending
            # equality deletes have nothing left to apply to, and a
            # declared schema must describe the NEW frame — a merge
            # commit may carry branch-side names/types reconciled past
            # the parent's declaration
            declared = parent is not None and parent.schema is not None
            changed = {
                "files": sorted(files),
                "stats": stats,
                "eq_deletes": [],
                "schema": _schema_of(df) if declared else None,
            }
        op = _op or (mode if branch is None else f"branch-{mode}")
        return self._commit(parent, new_version, op, branch, **changed)

    def _read_files(self, files: list[str]) -> DataFrame:
        """Read an explicit file list, reconstructing hive partition
        columns per commit directory. Files are grouped by their
        ``data/v<N>`` root; partitioned groups read with ``basePath``
        (so ``col=val`` path segments come back as columns), flat
        groups read directly; mixed schemas union by name with null
        back-fill — which is exactly partition-spec evolution from the
        reader's side. One Spark scan per distinct layout group, not
        per file."""
        import re

        groups: dict[str, list[str]] = {}
        # tolerate URI-form entries from manifests written before paths
        # were stored decoded (a literal %20 read would PATH_NOT_FOUND)
        files = [_local_path(f) for f in files]
        for f in files:
            m = re.search(r"^(.*?/data/v\d+)/", f)
            root = m.group(1) if m else os.path.dirname(f)
            groups.setdefault(root, []).append(f)
        parts: list[DataFrame] = []
        for root, fs in sorted(groups.items()):
            partitioned = any("=" in os.path.dirname(f)[len(root):] for f in fs)
            reader = self.spark.read
            if partitioned:
                reader = reader.option("basePath", root)
            parts.append(reader.parquet(*fs))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    # -- schema evolution + MOR assembly (round-9) ----------------------

    def _replay_schema_ops(self, df: DataFrame, file_era: int,
                           snap: Snapshot) -> DataFrame:
        """Translate one file-era frame forward through every metadata
        op committed AFTER that era, in era order: renames move the
        physical column to its current name (a DROP is recorded as a
        rename onto a reserved tombstone name, so a later ADD that
        REUSES the dropped name can never resurrect old-era data);
        widens cast the column to its promoted type (metadata-only —
        the file keeps its narrow physical type forever, and time
        travel below the widen era still shows it). One merged pass so
        a widen recorded under a post-rename name finds the column the
        commit actually named."""
        ops = sorted(
            [(e, "rn", a, b) for e, a, b in snap.rename_log]
            + [(e, "ty", a, b) for e, a, b in snap.type_log],
            key=lambda t: t[0],
        )
        for era, kind, a, b in ops:
            if era <= file_era or a not in df.columns:
                continue
            if kind == "rn":
                df = df.withColumnRenamed(a, b)
            else:
                df = df.withColumn(a, F.col(a).cast(b))
        return df

    def _assemble(self, snap: Snapshot, files: list[str] | None = None) -> DataFrame:
        """Read a snapshot's (or an explicit subset of its) files with
        full table semantics: per-era forward column renames (Iceberg
        metadata-only ALTER — an old file's physical names translate
        through every rename committed after it), equality-delete
        anti-joins (merge-on-read; a delete applies only to files of a
        strictly earlier era, so later re-inserts survive), and the
        declared-schema projection (ADD backfills NULL, DROP hides the
        column without touching data files). Tables that never used
        these features take the pre-existing ``_read_files`` path
        unchanged."""
        files = snap.files if files is None else files
        # fast path: alter_table sets ``schema`` and every later commit
        # carries it, so schema None + no deletes ⇒ no alter/delete-eq
        # anywhere on the lineage ⇒ the pre-round-9 read, with no
        # per-ancestor manifest walk at all
        if snap.schema is None and not snap.eq_deletes:
            return self._read_files(files)
        # group files by commit era (same layout grouping as
        # _read_files, but renames/deletes are era-dependent)
        groups: dict[tuple[str, int], list[str]] = {}
        for f in [_local_path(x) for x in files]:
            m = re.search(r"^(.*?/data/v(\d+))/", f)
            root = m.group(1) if m else os.path.dirname(f)
            era = int(m.group(2)) if m else 0
            groups.setdefault((root, era), []).append(f)
        parts: list[DataFrame] = []
        for (root, era), fs in sorted(groups.items()):
            partitioned = any("=" in os.path.dirname(f)[len(root):] for f in fs)
            reader = self.spark.read
            if partitioned:
                reader = reader.option("basePath", root)
            df = reader.parquet(*fs)
            df = self._replay_schema_ops(df, era, snap)
            for entry in snap.eq_deletes:
                if entry["era"] > era:
                    dv = self.spark.read.parquet(*entry["files"])
                    keys = list(entry["keys"])
                    # delete keys were written in the delete era's
                    # namespace; translate names AND types forward too
                    # (a widened key column must anti-join at the
                    # promoted type on both sides)
                    dv = self._replay_schema_ops(dv, entry["era"], snap)
                    for rera, old, new in snap.rename_log:
                        if rera > entry["era"] and old in keys:
                            keys[keys.index(old)] = new
                    df = df.join(
                        F.broadcast(dv.select(*keys).distinct()),
                        keys,
                        "left_anti",
                    )
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        if snap.schema is not None:
            out = _project(out, snap.schema)
        return out

    def alter_table(
        self,
        adds: list[str] | None = None,
        renames: dict[str, str] | None = None,
        drops: list[str] | None = None,
        branch: str | None = None,
    ) -> int:
        """Metadata-only schema evolution commit (Iceberg ALTER TABLE:
        add / rename / drop columns without rewriting a single data
        file — the flagship v2 promise). ``adds`` entries are
        ``"name type"`` strings (the type backfills NULL for files
        that pre-date the column); ``renames`` is old→new; ``drops``
        hides columns. Applied in rename → drop → add order. Every
        prior snapshot keeps ITS OWN schema: time travel shows the
        table as it was, incremental reads surface rows in the
        to-version's namespace.

        A DROP also records a rename of the physical column onto a
        reserved tombstone name (``__dropped_v<era>__<col>``) so that a
        later ADD reusing the dropped NAME is a genuinely new column:
        old-era files' data stays hidden (NULL-backfilled) instead of
        resurrecting under the recycled name — Iceberg gets this from
        field IDs; the tombstone rename is the name-based equivalent.

        ``branch=`` commits the ALTER onto a branch head (moving only
        the branch ref), so staged write-audit-publish work can evolve
        its schema before publish/merge."""
        parent = self._head(branch)
        schema = self._declared_schema(parent)
        names = [c[0] for c in schema]
        renames = dict(renames or {})
        for old, new in renames.items():
            if old not in names:
                raise VersioningError(f"rename source {old!r} not in {names}")
            if new in names:
                raise VersioningError(f"rename target {new!r} already exists")
        if len(set(renames.values())) != len(renames):
            raise VersioningError(f"colliding rename targets: {renames}")
        schema = [[renames.get(n, n), t] for n, t in schema]
        names = [c[0] for c in schema]
        for d in drops or []:
            if d not in names:
                raise VersioningError(f"drop column {d!r} not in {names}")
        schema = [c for c in schema if c[0] not in set(drops or [])]
        for a in adds or []:
            name, _, typ = a.partition(" ")
            if not typ.strip():
                raise VersioningError(
                    f"adds entries are 'name type' strings, got {a!r}"
                )
            if name in [c[0] for c in schema]:
                raise VersioningError(f"add column {name!r} already exists")
            schema.append([name, typ.strip()])
        if not schema:
            raise VersioningError("ALTER would drop every column")
        new_version = self._next_version()
        # order matters within the era: same-era renames must replay
        # BEFORE the drop tombstones (rename a→b then drop b tombstones
        # b); sorted() is stable on equal eras, so list order rules
        rename_log = [
            *parent.rename_log,
            *[[new_version, old, new] for old, new in renames.items()],
            *[
                [new_version, d, f"__dropped_v{new_version}__{d}"]
                for d in (drops or [])
            ],
        ]
        return self._commit(
            parent, new_version, "alter", branch,
            renames=renames, rename_log=rename_log, schema=schema,
        )

    def _declared_schema(self, snap: Snapshot | None) -> list:
        """The [[name, type], ...] columns an ALTER starts from: the
        schema ``snap`` declares, or its data's schema before any ALTER
        declared one."""
        if snap is None:
            raise VersioningError("cannot ALTER an empty table")
        if snap.schema is not None:
            return [list(c) for c in snap.schema]
        return _schema_of(self._assemble(snap))

    # Iceberg v2 legal type promotions (widen-only — narrowing would
    # corrupt existing data files' values at read).
    _WIDENS = {
        ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
        ("smallint", "int"), ("smallint", "bigint"),
        ("int", "bigint"),
        ("float", "double"),
    }

    def alter_column_type(
        self, changes: dict[str, str], branch: str | None = None
    ) -> int:
        """Metadata-only TYPE WIDENING (the remaining Iceberg v2 ALTER
        verb: int→bigint, float→double, decimal(p,s)→decimal(p',s) with
        p'≥p and the SAME scale). No data file is rewritten — readers
        cast each narrower-era file forward at scan, exactly like the
        rename chain, and time travel below the widen era still shows
        the column's own narrower type. Illegal promotions (narrowing,
        cross-family, decimal scale changes) raise before committing
        anything."""
        parent = self._head(branch)
        schema = self._declared_schema(parent)
        by_name = {n: t for n, t in schema}
        for col, to in changes.items():
            if col not in by_name:
                raise VersioningError(
                    f"widen column {col!r} not in {sorted(by_name)}"
                )
            frm = by_name[col].strip().lower()
            to_n = to.strip().lower()
            dec = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", frm)
            dec_to = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", to_n)
            ok = (frm, to_n) in self._WIDENS or (
                dec is not None
                and dec_to is not None
                and int(dec_to.group(1)) >= int(dec.group(1))
                and dec_to.group(2) == dec.group(2)
            )
            if not ok:
                raise VersioningError(
                    f"illegal type promotion {col!r}: {frm} → {to_n} "
                    "(legal: int→bigint, float→double, "
                    "decimal(p,s)→decimal(p'≥p,s))"
                )
        new_version = self._next_version()
        return self._commit(
            parent, new_version, "alter-type", branch,
            schema=[[n, changes.get(n, t)] for n, t in schema],
            type_log=[
                *parent.type_log,
                *[[new_version, c, t] for c, t in changes.items()],
            ],
        )

    def delete_where_eq(self, predicate: str, keys: list[str]) -> int:
        """MERGE-ON-READ delete (Iceberg v2 equality-delete files): the
        commit writes ONLY a small file of matching key tuples —
        O(|deletes|) commit cost on a 100 TB table — and readers apply
        it as a broadcast anti-join. The delete carries its commit era
        (sequence number): files appended LATER are never filtered, so
        re-inserting a deleted key works exactly like Iceberg. Compare
        ``delete_where`` (copy-on-write), which pays the rewrite at
        commit time to keep reads join-free; ``compact_eq_deletes``
        converts accumulated MOR debt into that clean layout."""
        parent = self._head()
        if parent is None:
            raise VersioningError(f"empty versioned table at {self.root}")
        cur = self._assemble(parent)
        missing = [k for k in keys if k not in cur.columns]
        if missing:
            raise VersioningError(f"delete keys not in schema: {missing}")
        new_version = self._next_version()
        matched = cur.filter(predicate).select(*keys).distinct()
        del_dir = os.path.join(self.root, "deletes", f"v{new_version}")
        matched.write.mode("errorifexists").parquet(del_dir)
        dfiles = [
            _local_path(f)
            for f in self.spark.read.parquet(del_dir).inputFiles()
        ]
        entry = {"files": dfiles, "keys": list(keys), "era": new_version}
        return self._commit(
            parent, new_version, "delete-eq",
            eq_deletes=[*parent.eq_deletes, entry],
        )

    def compact_eq_deletes(self) -> int:
        """Fold accumulated equality-delete files into the data layout
        (the ``rewrite_data_files`` + delete-compaction maintenance
        pass): one COW rewrite of the MOR view, after which reads are
        anti-join-free and the new snapshot carries zero delete files.
        MUST NOT change what any read returns — the q380 differential
        and the state-machine fuzz pin that."""
        snap = self.snapshot(self._resolve_version())
        if not snap.eq_deletes:
            raise VersioningError("no equality-delete files to compact")
        return self.write(
            self._assemble(snap), mode="overwrite", _op="rewrite-deletes"
        )

    # -- read (#13/#15) ------------------------------------------------

    def read(
        self,
        version: int | None = None,
        as_of_timestamp: str | None = None,
    ) -> DataFrame:
        """Snapshot-isolated scan. ``version`` = VERSION AS OF;
        ``as_of_timestamp`` (ISO-8601) = TIMESTAMP AS OF (latest
        snapshot committed at-or-before); neither = CURRENT."""
        version = self._resolve_version(version, as_of_timestamp)
        return self._assemble(self.snapshot(version))

    def scan(
        self,
        filters: list[tuple[str, str, object]],
        version: int | None = None,
        as_of_timestamp: str | None = None,
    ) -> DataFrame:
        """Filtered snapshot scan with manifest-level data skipping
        (Iceberg's scan planning): files whose footer min/max bounds
        prove no row can satisfy the conjunction of ``filters`` are
        dropped BEFORE Spark ever opens them. Filters are
        ``(column, op, value)`` triples, op ∈ {=, !=, <, <=, >, >=, in}
        — conjunctive, the pyarrow/Iceberg expression subset that
        manifests can answer.

        The full predicate is re-applied to the surviving files, so the
        result is always exactly ``read(...).filter(...)`` — stats only
        ever remove provably-dead IO. At 100 TB this layer is the
        difference between touching 3 files and 30,000: partition
        transforms bound *directories*, these bounds prune *files*
        inside them (and the sorted/Z-ordered layouts in
        sources.layout exist to make the bounds tight)."""
        version = self._resolve_version(version, as_of_timestamp)
        residual = _filters_to_column(filters)
        kept = self.plan_files(filters, version)
        if not kept:
            # provably-empty result; preserve the full (possibly
            # partition-evolved) schema without scanning any data
            return self.read(version=version).where(F.lit(False))
        return self._assemble(self.snapshot(version), files=kept).filter(
            residual
        )

    def plan_files(
        self, filters: list[tuple[str, str, object]], version: int | None = None
    ) -> list[str]:
        """The file set ``scan(filters)`` would actually read at
        ``version`` — manifest min/max bounds AND the bloom sidecar
        layer, the SAME rule scan applies (scan delegates here).
        Public so pruning audits (q281) measure the real planning rule
        instead of re-implementing a subset of it (round-6 review
        finding). Compare ``len(plan_files(filters))`` against
        ``len(snapshot(v).files)`` for the pruning ratio."""
        version = self._resolve_version(version)
        snap = self.snapshot(version)
        bloom = self._load_bloom(version)
        return [
            f
            for f in snap.files
            if all(
                _may_match(snap.stats.get(f, {}), col, op, val)
                and (
                    bloom is None
                    or self._bloom_may_match(bloom, f, col, op, val)
                )
                for col, op, val in filters
            )
        ]

    # -- metadata tables (Iceberg's t.files / t.history / t.partitions)

    def history_df(self) -> DataFrame:
        """The snapshot log as a DataFrame (Iceberg ``t.history``):
        version, parent, commit time, operation, file/changelog counts.
        Driver-built from manifests — metadata-sized by construction."""
        rows = [
            (
                s.version,
                s.parent,
                s.ts,
                s.op,
                len(s.files),
                os.path.isdir(self._changelog_dir(s.version)),
                s.version == self.current_version(),
            )
            for s in self.snapshots()
        ]
        return self.spark.createDataFrame(
            rows,
            "version int, parent int, committed_at string, op string, "
            "n_files int, has_changelog boolean, is_current boolean",
        )

    def files_df(self, version: int | None = None) -> DataFrame:
        """Per-file inventory of a snapshot (Iceberg ``t.files``): path,
        size, record count (parquet footer), partition values (JSON).
        The small-files diagnosis view — feed it to ``compact()``
        decisions."""
        import pyarrow.parquet as pq

        rows = []
        for f in self.snapshot(self._resolve_version(version)).files:
            local = _local_path(f)
            try:
                md = pq.ParquetFile(local).metadata
                n_rows, n_rgs = md.num_rows, md.num_row_groups
            except Exception:
                n_rows, n_rgs = None, None
            parts = {
                c: b[0] for c, b in _partition_bounds_from_path(f).items()
            }
            rows.append(
                (
                    f,
                    os.path.getsize(local) if os.path.exists(local) else None,
                    n_rows,
                    n_rgs,
                    json.dumps(parts, sort_keys=True) if parts else None,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "file_path string, size_bytes long, record_count long, "
            "n_row_groups int, partition string",
        )

    def partitions_df(self, version: int | None = None) -> DataFrame:
        """Partition-level rollup (Iceberg ``t.partitions``): one row
        per partition value set with file and record counts — the view
        that shows partition skew before it shows up as a straggler
        task."""
        f = self.files_df(version)
        return (
            f.groupBy(F.coalesce(F.col("partition"), F.lit("{}")).alias("partition"))
            .agg(
                F.count(F.lit(1)).alias("n_files"),
                F.sum("record_count").alias("record_count"),
                F.sum("size_bytes").alias("size_bytes"),
            )
        )

    # -- bloom sidecars (Iceberg Puffin-stats analog) ------------------

    def _bloom_path(self, version: int) -> str:
        return os.path.join(self._meta, f"bloom-v{version}.json")

    @staticmethod
    def _bloom_positions(val: object, seed: int, n_bits: int) -> int:
        """Python twin of the JVM-side position expression — md5 of the
        canonical string rendering, first 15 hex digits mod n_bits.
        Both sides MUST stay in lockstep (tested by
        test_bloom_python_jvm_hash_agreement)."""
        import hashlib

        h = hashlib.md5(f"{val}:{seed}".encode()).hexdigest()
        return int(h[:15], 16) % n_bits

    def compute_bloom(
        self,
        cols: list[str],
        n_bits: int = 16384,
        n_hashes: int = 4,
        version: int | None = None,
    ) -> dict:
        """Build per-file bloom filters for point-lookup columns and
        write them as a sidecar next to the snapshot manifest (the
        shape of Iceberg's Puffin stats files: optional, additive,
        never consulted for correctness — only to skip IO).

        Min/max bounds prune RANGES; a bloom prunes point lookups when
        every file's range overlaps (scattered keys — exactly where
        sorted/Z-ordered layout doesn't apply because the key arrives
        unsorted). One distributed job: per (file, col, seed) the md5
        bit position, distinct per (file, col) via map-side partial
        sets bounded at n_bits; only the final files×cols bitmap rows
        reach the driver. Keys should be int/string id columns —
        canonical string rendering is the hash input."""
        v = self._resolve_version(version)
        snap = self.snapshot(v)
        # NOTE: bloom sidecars index PHYSICAL column names on the raw
        # file scan (input_file_name must map 1:1 to the file being
        # read — no joins/projections allowed here). Tables that used
        # alter_table renames simply never bloom-prune on the renamed
        # column: conservative, documented.
        df = self._read_files(snap.files).select(
            F.input_file_name().alias("_file"), *cols
        )
        pos_cols = []
        for c in cols:
            for seed in range(n_hashes):
                pos_cols.append(
                    F.struct(
                        F.lit(c).alias("col"),
                        (
                            F.conv(
                                F.substring(
                                    F.md5(
                                        F.concat_ws(
                                            ":",
                                            F.col(c).cast("string"),
                                            F.lit(str(seed)),
                                        )
                                    ),
                                    1,
                                    15,
                                ),
                                16,
                                10,
                            ).cast("long")
                            % n_bits
                        ).alias("pos"),
                    )
                )
        melted = df.select(
            "_file", F.explode(F.array(*pos_cols)).alias("cp")
        ).select("_file", "cp.col", "cp.pos")
        rows = (
            melted.groupBy("_file", "col")
            .agg(F.collect_set("pos").alias("positions"))
            .collect()
        )
        filters: dict[str, dict[str, str]] = {}
        import base64

        for r in rows:
            bitmap = bytearray(n_bits // 8 + (n_bits % 8 > 0))
            for p in r.positions:
                bitmap[p // 8] |= 1 << (p % 8)
            # input_file_name() yields URI form; sidecar keys must match
            # the manifest's decoded-local-path form
            filters.setdefault(_local_path(r._file), {})[r.col] = base64.b64encode(
                bytes(bitmap)
            ).decode()
        sidecar = {
            "n_bits": n_bits,
            "n_hashes": n_hashes,
            "cols": sorted(cols),
            "filters": filters,
        }
        tmp = self._bloom_path(v) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(sidecar, f)
        os.replace(tmp, self._bloom_path(v))
        return {"version": v, "files": len(filters), "cols": sorted(cols)}

    def _load_bloom(self, version: int) -> dict | None:
        try:
            with open(self._bloom_path(version)) as f:
                sidecar = json.load(f)
        except FileNotFoundError:
            return None
        # tolerate sidecars written before keys were stored decoded
        sidecar["filters"] = {
            _local_path(k): v for k, v in sidecar.get("filters", {}).items()
        }
        return sidecar

    def _bloom_may_match(
        self, sidecar: dict, file: str, col: str, op: str, val: object
    ) -> bool:
        """False only when the bloom PROVES no row of ``file`` equals
        ``val`` (or any member of an IN list). Non-point ops, uncovered
        columns, or missing file entries → True."""
        if op not in ("=", "==", "in"):
            return True
        per_file = sidecar["filters"].get(file)
        if not per_file or col not in per_file:
            return True
        import base64

        bitmap = base64.b64decode(per_file[col])
        n_bits, n_hashes = sidecar["n_bits"], sidecar["n_hashes"]

        def present(v: object) -> bool:
            for seed in range(n_hashes):
                p = self._bloom_positions(v, seed, n_bits)
                if not bitmap[p // 8] & (1 << (p % 8)):
                    return False
            return True

        vals = val if op == "in" else [val]
        return any(present(v) for v in vals)  # type: ignore[union-attr]

    def changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Incremental scan (Iceberg's ``incremental append scan``):
        the rows added strictly AFTER ``from_version`` up to and
        including ``to_version`` (default CURRENT), read from only the
        files that joined the table in that window — the primitive that
        turns a 100 TB corpus refresh into "process the new files",
        never a full re-read.

        Only commits that add rows (``_adds_rows_only``: appends of any
        kind and ALTERs) are representable as a pure file-set diff; if
        any commit in the window rewrote visible data (overwrite /
        merge / delete / equality delete / compact), this fails loudly
        — downstream incremental consumers would otherwise silently
        double- or under-count. (Iceberg's incremental scan has the same
        append-only restriction.)"""
        base, lineage = self._window(from_version, to_version)
        rewrites = [
            s.version
            for p, s in zip([base, *lineage], lineage)
            if not _adds_rows_only(p, s)
        ]
        if rewrites:
            raise VersioningError(
                f"snapshots {rewrites} are not pure appends (they drop files "
                "or add equality deletes) — incremental file-diff read would "
                "be incorrect; use changelog() for row-level CDC across rewrites"
            )
        head = lineage[-1] if lineage else base
        new_files = sorted(set(head.files) - set(base.files))
        if not new_files:
            return self._assemble(head).where(F.lit(False))
        return self._assemble(head, files=new_files)

    def _window(
        self, from_version: int, to_version: int | None
    ) -> tuple[Snapshot, list[Snapshot]]:
        """``from_version``'s snapshot and the snapshots committed after
        it up to ``to_version`` (default CURRENT) on to_version's
        lineage, oldest first — the window of ``changes``/``changelog``."""
        to_version = self._resolve_version(to_version)
        if from_version > to_version:
            raise VersioningError(
                f"from_version {from_version} > to_version {to_version}"
            )
        base = self.snapshot(from_version)
        lineage = self._lineage(from_version, to_version)
        if lineage is None:
            raise VersioningError(
                f"v{from_version} is not an ancestor of v{to_version} "
                "(rollback branch or expired snapshot?) — the window of "
                "changes is undefined"
            )
        return base, lineage

    def _lineage(self, ancestor: int, head: int) -> list[Snapshot] | None:
        """The snapshots after ``ancestor`` up to ``head`` on head's
        parent chain, oldest first; None when ``ancestor`` is not on
        that chain (a rollback branch, a main that advanced past a
        branch's fork, or an expired manifest in between). A parent's
        version is always lower than its child's, so the walk stops at
        the first version not above ``ancestor``."""
        out: list[Snapshot] = []
        v: int | None = head
        while v is not None and v > ancestor:
            try:
                snap = self.snapshot(v)
            except VersioningError:
                return None  # ancestor manifest expired: the chain ends here
            out.append(snap)
            v = snap.parent
        return out[::-1] if v == ancestor else None

    # -- row-level ops with history (#19/#20 × #15) --------------------

    def _changelog_dir(self, version: int) -> str:
        return os.path.join(self.root, "_changelog", f"v{version}")

    def _write_changelog(self, version: int, delta: DataFrame) -> None:
        """Persist precise row-level changes for a rewrite commit —
        written AFTER the snapshot commit, so a crash in between leaves
        a readable table whose ``changelog()`` falls back to the
        snapshot diff (slower, still correct)."""
        delta.write.mode("errorifexists").parquet(self._changelog_dir(version))

    def merge(
        self,
        source: DataFrame,
        on: list[str],
        capture_changelog: bool = False,
        precedence: list[str] | None = None,
    ) -> int:
        """Copy-on-write MERGE committing a NEW snapshot: matched target
        rows are replaced by source rows, unmatched source rows are
        inserted — and the pre-merge state stays time-travelable (the
        audit/undo story that makes snapshot tables worth having).
        Same COW semantics as catalog.TableManager.merge_upsert's
        parquet fallback, plus history.

        ``precedence``: column names whose DESC order defines "newest".
        When given, a matched target row is replaced ONLY IF the source
        row outranks it (the MERGE ... WHEN MATCHED AND s.ts > t.ts
        shape) — apply-if-newer INSIDE the merge, so CDC sinks need no
        separate read-contest-remerge pass over the whole table
        (round-5 review ask). Ties on the full precedence tuple keep
        the STORED row deterministically (the incoming row must
        strictly outrank to win), which also makes redelivered
        microbatches exact no-ops. The contest covers ONLY keys present
        in the source: target keys the merge never touches pass through
        byte-identical even when the target holds multiple rows per key
        (append-built tables). Set
        ``SPARK_GRAFT_VALIDATE_PRECEDENCE=1`` to fail loudly if any
        contested key carries two rows tied on the whole precedence
        tuple with DIFFERENT payloads (a non-total order — replay-order
        dependence the tie rule would otherwise silently mask;
        byte-identical redeliveries are the documented no-op and never
        flag).

        ``capture_changelog=True`` additionally materializes the exact
        row-level delta (update_before/update_after/insert images, the
        Delta-CDF/Iceberg-changelog shape) so ``changelog()`` reads it
        for free instead of diffing snapshots; under ``precedence``,
        matched keys whose stored row won produce NO change images.
        Cost: two extra semi/anti joins on the merge keys — cheap next
        to the COW rewrite itself."""
        dups = source.groupBy(on).count().filter("count > 1").limit(1).count()
        if dups:
            raise VersioningError(
                f"merge source has duplicate keys on {on} — dedupe first"
            )
        cur = self.read()
        src_cols = source.select(*cur.columns)
        if precedence is None:
            keep = cur.join(source.select(on).distinct(), on=on, how="left_anti")
            merged = keep.unionByName(src_cols)
            won_src = src_cols
        else:
            from pyspark.sql import Window as W

            # Winner contest ONLY over contested keys (keys present in
            # the source). A multi-row-per-key target (built by plain
            # appends) must keep every row on keys the merge never
            # touches — partitioning row_number over ALL target rows
            # would silently collapse those to one row per key with no
            # changelog images (round-6 advice, medium).
            src_keys = src_cols.select(on).distinct()
            untouched = cur.join(src_keys, on=on, how="left_anti")
            contested = cur.join(src_keys, on=on, how="left_semi")
            tagged = contested.withColumn("_vt_src", F.lit(0)).unionByName(
                src_cols.withColumn("_vt_src", F.lit(1))
            )
            if os.environ.get("SPARK_GRAFT_VALIDATE_PRECEDENCE"):
                # flag only ties that MATTER: two rows sharing the full
                # (key, precedence) tuple with DIFFERENT payloads — a
                # byte-identical redelivered row is the documented
                # no-op, never an error (review finding, round 6)
                payload = [
                    c
                    for c in cur.columns
                    if c not in set(on) | set(precedence)
                ]
                # no payload columns → any tie is a byte-identical row,
                # which is harmless by definition
                ties = (
                    (
                        tagged.groupBy(*on, *precedence)
                        .agg(F.countDistinct(F.struct(*payload)).alias("_np"))
                        .filter(F.col("_np") > 1)
                        .count()
                    )
                    if payload
                    else 0
                )
                if ties:
                    raise VersioningError(
                        f"precedence {precedence} is not a per-key total "
                        f"order: {ties} (key, precedence) groups carry "
                        "conflicting payloads"
                    )
            # stored (0) sorts before incoming (1) on a full tie →
            # the stored row wins deterministically
            w = W.partitionBy(*on).orderBy(
                *[F.col(c).desc() for c in precedence], F.col("_vt_src").asc()
            )
            winners = (
                tagged.withColumn("_vt_rn", F.row_number().over(w))
                .filter(F.col("_vt_rn") == 1)
                .drop("_vt_rn")
            )
            merged = winners.drop("_vt_src").unionByName(untouched)
            won_src = winners.filter(F.col("_vt_src") == 1).drop("_vt_src")
        v = self.write(merged, mode="overwrite", _op="merge")
        if capture_changelog:
            cur_keys = cur.select(on).distinct()
            upd_keys = won_src.select(on).distinct().join(
                cur_keys, on, "left_semi"
            )
            upd_before = cur.join(upd_keys, on, "left_semi").withColumn(
                "_change_type", F.lit("update_before")
            )
            upd_after = won_src.join(cur_keys, on, "left_semi").withColumn(
                "_change_type", F.lit("update_after")
            )
            inserts = won_src.join(cur_keys, on, "left_anti").withColumn(
                "_change_type", F.lit("insert")
            )
            self._write_changelog(
                v, upd_before.unionByName(upd_after).unionByName(inserts)
            )
        return v

    def delete_where(self, predicate: str, capture_changelog: bool = False) -> int:
        """COW DELETE as a new snapshot; deleted rows remain readable
        at prior versions. ``capture_changelog=True`` materializes the
        deleted rows as ``delete`` change images for ``changelog()``."""
        cur = self.read()
        v = self.write(cur.filter(f"NOT ({predicate})"), mode="overwrite", _op="delete")
        if capture_changelog:
            self._write_changelog(
                v,
                cur.filter(predicate).withColumn("_change_type", F.lit("delete")),
            )
        return v

    def changelog(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Row-level CDC read (Iceberg ``create_changelog_view`` /
        Delta Change Data Feed analog): every change committed strictly
        after ``from_version`` up to ``to_version``, as change images
        with ``_change_type`` ∈ {insert, delete, update_before,
        update_after} and ``_commit_version``.

        Per commit on the lineage:
        - commits that only add rows (appends of any kind, ALTERs) →
          inserts, read from ONLY the delta files (zero extra cost,
          same as ``changes``);
        - compact → byte-identical rewrite, contributes nothing;
        - merge / delete / overwrite / equality delete → the captured
          changelog when the commit wrote one, else a snapshot diff
          (``exceptAll`` both ways → minimal insert/delete images;
          correct but O(|table|) — capture at write time to avoid it).
          Snapshot-diff deltas cannot distinguish updates from
          delete+insert pairs; captured merge changelogs do.

        Every image is read in ``to_version``'s namespace, as
        ``changes`` reads rows: renames, added columns (NULL for older
        rows) and widens committed later in the window apply to insert
        images, snapshot diffs and captured changelogs alike."""
        base, lineage = self._window(from_version, to_version)
        head = lineage[-1] if lineage else base

        def at_head(eq_deletes: list, files: list[str]) -> DataFrame:
            # ``files`` under head's names and types, filtered by the
            # equality deletes of the snapshot they are read as. A
            # commit's deletes never cover the files it adds (a delete
            # applies to strictly earlier eras), so insert images pass
            # none; later deletes show as their own commits' images.
            return self._assemble(replace(head, eq_deletes=eq_deletes), files)

        base_cols = self._assemble(head).columns
        parts: list[DataFrame] = []
        for parent, snap in zip([base, *lineage], lineage):
            cv = F.lit(snap.version).alias("_commit_version")
            if snap.op == "compact":
                continue
            if _adds_rows_only(parent, snap):
                parent_files = set(parent.files)
                new_files = [f for f in snap.files if f not in parent_files]
                if new_files:
                    parts.append(
                        at_head([], new_files)
                        .withColumn("_change_type", F.lit("insert"))
                        .withColumn("_commit_version", cv)
                    )
                continue
            if os.path.isdir(self._changelog_dir(snap.version)):
                # captured at the commit's own names: replay the ALTERs
                # committed after it
                captured = self._replay_schema_ops(
                    self.spark.read.parquet(self._changelog_dir(snap.version)),
                    snap.version,
                    head,
                )
                if head.schema is not None:
                    captured = _project(captured, head.schema, "_change_type")
                parts.append(captured.withColumn("_commit_version", cv))
                continue
            # uncaptured rewrite: minimal snapshot diff (nets unchanged rows)
            after = at_head(snap.eq_deletes, snap.files)
            before = at_head(parent.eq_deletes, parent.files)
            parts.append(
                after.exceptAll(before)
                .withColumn("_change_type", F.lit("insert"))
                .withColumn("_commit_version", cv)
            )
            parts.append(
                before.exceptAll(after)
                .withColumn("_change_type", F.lit("delete"))
                .withColumn("_commit_version", cv)
            )
        out_cols = [*base_cols, "_change_type", "_commit_version"]
        if not parts:
            return (
                self._assemble(head)
                .withColumn("_change_type", F.lit(""))
                .withColumn("_commit_version", F.lit(0))
                .select(*out_cols)
                .where(F.lit(False))
            )
        out = parts[0].select(*out_cols)
        for p in parts[1:]:
            out = out.unionByName(p.select(*out_cols))
        return out

    # -- maintenance (Iceberg rewrite_data_files analog) ---------------

    def compact(self, target_files: int | None = None) -> int:
        """Bin-pack the CURRENT snapshot's files into fewer, larger ones
        and commit the rewrite as a new snapshot (op="compact") with
        byte-identical contents. The maintenance pass every
        micro-committing producer needs: the streaming CDC sink lands
        one file set per microbatch, and scan planning degrades with
        file count long before it degrades with bytes. Old snapshots
        keep their original small files (still time-travelable); data
        is only ever added, GC of unreachable files is a separate
        concern (as in Iceberg's expire_snapshots)."""
        snap = self.snapshot(self._resolve_version())
        if target_files is None:
            # ~128 MB target from observed on-disk size
            total = sum(os.path.getsize(_local_path(f)) for f in snap.files)
            target_files = max(1, total // (128 << 20) + (total % (128 << 20) > 0))
        df = self._assemble(snap).coalesce(int(target_files))
        return self.write(df, mode="overwrite", _op="compact")

    def expire_snapshots(self, keep_last: int = 2) -> dict[str, int]:
        """GC (Iceberg ``expire_snapshots`` analog): drop all snapshot
        manifests except the most recent ``keep_last`` (the CURRENT
        snapshot is always kept, even after a rollback), then delete
        data files referenced by no surviving snapshot. This is the
        piece that bounds storage growth under COW — every
        merge/delete/compact commit rewrites the visible file set and
        the old files stay on disk until expiry. Returns counts."""
        if keep_last < 1:
            raise VersioningError("keep_last must be >= 1")
        cur = self.current_version()
        if cur is None:
            return {"expired_snapshots": 0, "deleted_files": 0}
        snaps = self.snapshots()
        ref_heads = {r["version"] for r in self.refs().values()}
        keep = {s.version for s in snaps[-keep_last:]} | {cur} | ref_heads
        live_files = set()
        for v in keep:
            live_files.update(self.snapshot(v).files)
        expired = [s for s in snaps if s.version not in keep]
        dead_files = set()
        for s in expired:
            dead_files.update(f for f in s.files if f not in live_files)
        for f in dead_files:
            local = _local_path(f)
            if os.path.exists(local):
                os.remove(local)
        for s in expired:
            os.remove(self._manifest_path(s.version))
            cl = self._changelog_dir(s.version)
            if os.path.isdir(cl):
                import shutil

                shutil.rmtree(cl)
        return {"expired_snapshots": len(expired), "deleted_files": len(dead_files)}

    def orphan_files(
        self, remove: bool = False, older_than_seconds: float = 259_200
    ) -> list[str]:
        """Iceberg ``remove_orphan_files`` analog: data files present on
        disk under the table root but referenced by NO surviving
        snapshot manifest — the debris a killed/failed write job leaves
        behind (files land distributed BEFORE the manifest commit, so a
        crash between the two strands them; the commit protocol makes
        them invisible, this makes them reclaimable). Returns the
        orphan list (absolute paths); ``remove=True`` also deletes
        them. Non-data artifacts (_versions, _changelog, parquet
        _SUCCESS markers) are never touched.

        ``older_than_seconds`` (default 3 days — Iceberg's default for
        exactly this reason) shields IN-FLIGHT writes: a concurrent
        writer's files exist before its manifest commits and would
        otherwise be deleted out from under it. Only files whose
        mtime is older than the cutoff are considered. Pass 0 only
        when no writer can possibly be active.

        At scale this is a listing-vs-manifest anti-join; here both
        sides are small local listings. Always run expiry FIRST —
        files referenced only by expired snapshots are expiry's job,
        not orphan cleanup's."""
        import time

        referenced: set[str] = set()
        for s in self.snapshots():
            referenced.update(_local_path(f) for f in s.files)
            for entry in s.eq_deletes:
                referenced.update(_local_path(f) for f in entry["files"])
        cutoff = time.time() - older_than_seconds
        data_root = os.path.join(self.root, "data")
        orphans: list[str] = []
        for dirpath, _dirs, files in os.walk(data_root):
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue  # _SUCCESS and friends are not data
                p = os.path.join(dirpath, fn)
                if p in referenced:
                    continue
                try:
                    if os.path.getmtime(p) > cutoff:
                        continue  # possibly a not-yet-committed write
                except OSError:
                    continue  # vanished mid-walk → not ours to touch
                orphans.append(p)
        if remove:
            removed: list[str] = []
            for p in orphans:
                try:
                    os.remove(p)
                    removed.append(p)
                except FileNotFoundError:
                    removed.append(p)  # vanished since listing = gone
                # any other OSError (permissions, IO) propagates: a
                # failed removal must never be reported as cleaned up
            return sorted(removed)
        return sorted(orphans)

    # -- branches & tags (Iceberg refs analog) -------------------------

    def _refs_path(self) -> str:
        return os.path.join(self._meta, "refs.json")

    def refs(self) -> dict[str, dict]:
        """Named refs: {name: {"type": "branch"|"tag", "version": N}}.
        Branches move on writes to them; tags are immutable pins.
        CURRENT remains the main branch pointer (all pre-refs code and
        manifests keep working unchanged)."""
        try:
            with open(self._refs_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def _write_refs(self, refs: dict[str, dict]) -> None:
        tmp = self._refs_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(refs, f)
        os.replace(tmp, self._refs_path())

    def _make_ref(self, name: str, kind: str, at_version: int | None) -> int:
        v = at_version if at_version is not None else self.current_version()
        if v is None:
            raise VersioningError(f"cannot {kind} an empty table at {self.root}")
        self.snapshot(v)  # validates existence
        refs = self.refs()
        if name in refs:
            raise VersioningError(f"ref {name!r} already exists ({refs[name]})")
        # branches remember their fork point ("base") so merge_branch
        # can run a genuine 3-way diff later
        refs[name] = {"type": kind, "version": v, "base": v}
        self._write_refs(refs)
        return v

    def create_branch(self, name: str, at_version: int | None = None) -> int:
        """Branch from CURRENT (or an explicit snapshot). ``write``,
        ``alter_table`` and ``alter_column_type`` with ``branch=name``
        advance only the branch ref — main readers see nothing until
        ``publish_branch`` fast-forwards CURRENT."""
        return self._make_ref(name, "branch", at_version)

    def create_tag(self, name: str, at_version: int | None = None) -> int:
        """Immutable named snapshot pin (audit marks, release labels).
        Protected from expire_snapshots like any ref head."""
        return self._make_ref(name, "tag", at_version)

    def drop_ref(self, name: str) -> None:
        refs = self.refs()
        if name not in refs:
            raise VersioningError(f"no ref {name!r} (have: {sorted(refs)})")
        del refs[name]
        self._write_refs(refs)

    def resolve_ref(self, name: str) -> int:
        refs = self.refs()
        if name not in refs:
            raise VersioningError(f"no ref {name!r} (have: {sorted(refs)})")
        return refs[name]["version"]

    def _branch_refs(self, branch: str) -> dict[str, dict]:
        """The refs, after checking that ``branch`` names a branch."""
        refs = self.refs()
        kind = refs.get(branch, {}).get("type")
        if kind != "branch":
            raise VersioningError(
                f"no branch {branch!r} — "
                + ("it is a tag" if kind == "tag"
                   else f"create_branch first (refs: {refs})")
            )
        return refs

    def _key_fingerprints(self, df: DataFrame, on: list[str]) -> DataFrame:
        """Per-key payload fingerprint: md5 over the SORTED list of
        row-JSONs of the non-key columns — row-order-free and
        multi-row-per-key-safe, so 'changed' means the key's full row
        SET changed."""
        payload = [c for c in df.columns if c not in on]
        return df.groupBy(*on).agg(
            F.md5(
                F.to_json(
                    F.array_sort(
                        F.collect_list(F.to_json(F.struct(*payload)))
                    )
                )
            ).alias("_fp")
        )

    def _reconciled_merge_frames(
        self, branch: str, on: list[str], refs: dict
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """(ours, theirs, base) for a 3-way merge with mid-branch ALTER
        reconciliation: metadata ops committed on EITHER side after the
        fork (renames — including the drop tombstones — and type
        widens) are replayed onto the side that hasn't seen them, and a
        column ADDed on only one side is NULL-backfilled on the other,
        so a branch that renamed/widened/added/dropped merges without a
        single data file moving. Genuinely irreconcilable shapes (both
        sides renamed the same column differently, same-name adds with
        different types) still raise."""
        base_v = refs[branch].get("base")
        if base_v is None:
            raise VersioningError(
                f"branch {branch!r} predates fork-point tracking — "
                "cannot 3-way merge"
            )
        cur = self.current_version()
        ours = self.read(version=cur)
        theirs = self.read_branch(branch)
        base = self.read(version=base_v)
        o_snap = self.snapshot(cur)
        t_snap = self.snapshot(self.resolve_ref(branch))

        def post_fork_ops(snap: Snapshot) -> list:
            return sorted(
                [(e, "rn", a, b) for e, a, b in snap.rename_log if e > base_v]
                + [(e, "ty", a, b) for e, a, b in snap.type_log if e > base_v],
                key=lambda t: t[0],
            )

        def apply(df: DataFrame, ops: list) -> DataFrame:
            for _era, kind, a, b in ops:
                if a not in df.columns:
                    continue
                df = (
                    df.withColumnRenamed(a, b)
                    if kind == "rn"
                    else df.withColumn(a, F.col(a).cast(b))
                )
            return df

        t_ops, o_ops = post_fork_ops(t_snap), post_fork_ops(o_snap)
        ours = apply(ours, t_ops)
        theirs = apply(theirs, o_ops)
        base = apply(apply(base, t_ops), o_ops)

        def drop_tombstones(df: DataFrame) -> DataFrame:
            dead = [c for c in df.columns if c.startswith("__dropped_v")]
            return df.drop(*dead) if dead else df

        ours, theirs, base = map(drop_tombstones, (ours, theirs, base))
        missing_keys = [
            k for k in on if k not in ours.columns or k not in theirs.columns
        ]
        if missing_keys:
            raise VersioningError(
                f"merge keys {missing_keys} missing after schema "
                f"reconciliation (main {ours.columns}, branch {theirs.columns})"
            )
        # post-fork single-side ADDs: NULL-backfill the other side and
        # base at the adder's declared type — unchanged keys stay
        # fingerprint-equal, rows from the adding side carry values
        o_t, t_t = dict(ours.dtypes), dict(theirs.dtypes)
        for c in [c for c in theirs.columns if c not in o_t]:
            ours = ours.withColumn(c, F.lit(None).cast(t_t[c]))
        for c in [c for c in ours.columns if c not in t_t]:
            theirs = theirs.withColumn(c, F.lit(None).cast(o_t[c]))
        for c in [c for c in ours.columns if c not in base.columns]:
            base = base.withColumn(
                c, F.lit(None).cast(dict(ours.dtypes)[c])
            )
        if set(ours.columns) != set(theirs.columns):
            raise VersioningError(
                f"schema mismatch after reconciliation: main {ours.columns} "
                f"vs branch {theirs.columns}"
            )
        o_t, t_t = dict(ours.dtypes), dict(theirs.dtypes)
        mismatched = sorted(c for c in o_t if o_t[c] != t_t[c])
        if mismatched:
            raise VersioningError(
                "dtype mismatch on "
                + ", ".join(
                    f"{c!r} (main {o_t[c]} vs branch {t_t[c]})"
                    for c in mismatched
                )
            )
        if not [c for c in ours.columns if c not in on]:
            raise VersioningError(
                f"merge keys {on} cover every column — no payload left "
                "to diff; merge at a coarser key"
            )
        return ours, theirs, base

    def _merge_tri(
        self, branch: str, on: list[str], refs: dict
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """(tri, ours, theirs): per-key changed-on-main/changed-on-
        branch/sides-differ flags against the recorded fork point."""
        ours, theirs, base = self._reconciled_merge_frames(branch, on, refs)
        fp_b = self._key_fingerprints(base, on).withColumnRenamed("_fp", "_b")
        fp_o = self._key_fingerprints(ours, on).withColumnRenamed("_fp", "_o")
        fp_t = self._key_fingerprints(theirs, on).withColumnRenamed("_fp", "_t")
        tri = (
            fp_o.join(fp_t, on, "full")
            .join(fp_b, on, "full")
            .select(
                *on,
                (~F.col("_o").eqNullSafe(F.col("_b"))).alias("o_ch"),
                (~F.col("_t").eqNullSafe(F.col("_b"))).alias("t_ch"),
                (~F.col("_o").eqNullSafe(F.col("_t"))).alias("diff_ot"),
            )
        )
        return tri, ours, theirs

    def merge_conflicts(self, branch: str, on: list[str]) -> DataFrame:
        """The conflict KEY SET a ``merge_branch(branch, on)`` would
        raise on — keys changed on both sides with different final row
        sets — as a DataFrame the caller can inspect, join back against
        either head, or feed a manual resolution from. Read-only: no
        commit, no ref movement."""
        tri, _, _ = self._merge_tri(branch, on, self._branch_refs(branch))
        return tri.filter(
            F.col("o_ch") & F.col("t_ch") & F.col("diff_ot")
        ).select(*on)

    def merge_branch(
        self, branch: str, on: list[str], resolve: str | None = None
    ) -> dict:
        """THREE-WAY branch merge (the git-merge analog Iceberg's
        fast_forward refuses to be): diff both heads against the
        branch's recorded fork point at key grain — a key counts as
        changed on a side if its full row set differs from base
        (update, insert and delete all count) — then:

        - keys changed on NEITHER or only on MAIN keep main's rows;
        - keys changed only on the BRANCH take the branch's rows
          (including branch deletions);
        - keys changed on BOTH sides with DIFFERENT final row sets are
          CONFLICTS: with ``resolve=None`` the merge raises before
          committing anything (inspect via ``merge_conflicts``); with
          ``resolve="ours"``/``"theirs"`` conflicted keys keep main's /
          take the branch's rows (git merge -X ours/theirs). Both-
          changed-but-equal keys merge cleanly (the git rule).

        Mid-branch ALTERs reconcile through the era-tagged metadata
        logs (see ``_reconciled_merge_frames``) instead of hard-raising
        on a column-set mismatch.

        Commits one overwrite snapshot (op="merge-branch") on MAIN and
        drops the branch ref. Returns {"version", "from_branch",
        "keys_from_branch", "conflicts", "resolve"}.

        Scale: three per-key fingerprint aggregates + keyed anti/semi
        joins — no row-by-row driver work; fingerprints shuffle at key
        grain exactly like the COW merge."""
        if resolve not in (None, "ours", "theirs"):
            raise VersioningError(
                f"resolve must be None/'ours'/'theirs', got {resolve!r}"
            )
        tri, ours, theirs = self._merge_tri(
            branch, on, self._branch_refs(branch)
        )
        conflict = F.col("o_ch") & F.col("t_ch") & F.col("diff_ot")
        n_conflicts = tri.filter(conflict).count()
        if n_conflicts and resolve is None:
            raise VersioningError(
                f"merge of branch {branch!r} has {n_conflicts} conflicting "
                "key(s) (changed on both sides with different rows) — "
                "inspect merge_conflicts(branch, on), then re-stage or "
                "pass resolve='ours'/'theirs'"
            )
        take_theirs = tri.filter(
            F.col("t_ch")
            & (~conflict | F.lit(resolve == "theirs"))
        ).select(*on)
        n_from_branch = take_theirs.count()
        merged = ours.join(take_theirs, on, "left_anti").unionByName(
            theirs.join(take_theirs, on, "left_semi")
        )
        v = self.write(merged, mode="overwrite", _op="merge-branch")
        self.drop_ref(branch)
        return {
            "version": v,
            "from_branch": branch,
            "keys_from_branch": int(n_from_branch),
            "conflicts": int(n_conflicts),
            "resolve": resolve,
        }

    def read_branch(self, name: str) -> DataFrame:
        """Scan a ref head (branch or tag) with snapshot isolation."""
        return self.read(version=self.resolve_ref(name))

    def publish_branch(self, branch: str, drop: bool = True) -> int:
        """Fast-forward CURRENT to the branch head (the publish half of
        write-audit-publish). Requires main's head to be an ancestor of
        the branch head — if main advanced since the fork, the publish
        refuses (rebase by re-staging onto a fresh branch), mirroring
        Iceberg's fast_forward semantics."""
        head = self._branch_refs(branch)[branch]["version"]
        cur = self.current_version()
        if cur is not None and self._lineage(cur, head) is None:
            raise VersioningError(
                f"main (v{cur}) is not an ancestor of branch {branch!r} "
                f"(head v{head}) — main advanced since the fork; "
                "re-stage onto a fresh branch"
            )
        self._move(None, head)
        if drop:
            self.drop_ref(branch)
        return head

    def write_audit_publish(
        self,
        df: DataFrame,
        rules: list,
        mode: str = "append",
        branch: str = "_audit",
    ) -> dict:
        """WAP — the lakehouse ingestion safety pattern: stage ``df`` on
        an ephemeral branch, run the DQ rule suite against the WHOLE
        branch state (staged + existing rows — cross-batch rules like
        uniqueness need the union, not just the delta), publish by
        fast-forward only if every rule passes. On failure main is
        untouched and the branch is kept for debugging (drop_ref when
        done). Returns {"published", "version", "report"} where report
        is the collected rule table."""
        from .operators.dq import validate

        if branch in self.refs():
            raise VersioningError(
                f"audit branch {branch!r} already exists — a previous WAP "
                "failed its audit; inspect read_branch() then drop_ref()"
            )
        self.create_branch(branch)
        staged = self.write(df, mode, branch=branch)
        report = validate(self.read_branch(branch), rules).collect()
        failed = [r for r in report if not r.passed]
        if failed:
            return {
                "published": False,
                "version": staged,
                "report": [r.asDict() for r in report],
            }
        self.publish_branch(branch)
        return {
            "published": True,
            "version": staged,
            "report": [r.asDict() for r in report],
        }

    # -- rollback (Iceberg rollback_to_snapshot analog) ----------------

    def rollback(self, version: int) -> None:
        """Point CURRENT at an older snapshot (new writes branch from
        it). The abandoned snapshots' manifests remain for audit."""
        self.snapshot(version)  # validates existence
        self._move(None, version)
