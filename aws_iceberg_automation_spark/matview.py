"""Incrementally-maintained materialized aggregates over versioned
tables — the lakehouse pattern that turns "refresh the daily revenue
rollup over 100 TB" into "aggregate the files appended since the last
refresh and merge one small table".

Works on any append-only ``VersionedTable`` source: each refresh reads
``source.changes(last_refreshed, current)`` (only the files that joined
the table in that window — never a full scan), computes the same
grouped aggregate over just that delta, and merges it into the stored
state with a full-outer join on the group keys. Merge cost is
O(|state| + |delta groups|), independent of source size. The refresh
commits the new state as a snapshot tagged ``refresh:<source_version>``,
so the view's own history records exactly which source version each
state reflects — ``staleness()`` is a metadata read, and a crashed
refresh is simply re-run (same tag, idempotent outcome).

Only *mergeable* measures are supported (sum / count / min / max — and
avg as a derived sum÷count at read time). Exact distinct and medians
inherently need re-aggregation, but distinct COUNTS are served by the
``approx_distinct`` measure kind: the state stores a Datasketches HLL
sketch binary per group (``hll_sketch_agg``), deltas merge with
``hll_union`` (sketch union is exactly as mergeable as a sum), and
``read(estimated=True)`` renders estimates (±~2%). This is how a
distinct-users-per-day rollup stays incremental at 100 TB — the
re-aggregation that exact distinct would force never happens.

Heavy-hitter / point-frequency queries are served the same way by the
``countmin`` measure kind (q193/q194's sketch as a view measure): the
state stores one depth×width Count-Min cell array per group, deltas
merge with element-wise ``zip_with`` addition (integer cells — exactly
as mergeable as a sum; the streaming-equals-batch proof in
test_streaming is this same property), and ``cms_point_estimate()``
answers "how often did item X appear in group G" from the state alone —
the dashboard refresh never rescans the corpus. If the source window contains a rewrite
commit (overwrite/merge/delete/compact), ``changes()`` refuses it; when
every measure is sign-invertible (sum/count, with a count present) the
refresh instead consumes row-level CHANGE IMAGES from ``changelog()``
— the classic counting algorithm: +expr for insert/update_after, -expr
for delete/update_before, groups whose count hits zero dropped — so
updates and deletes stay incremental too. Otherwise (min/max/sketches
cannot subtract) it falls back to a full rebuild — correct over fast,
loudly. Each refresh snapshot tag records its mode:
``refresh:<source_version>:{full|delta|cdc}``.

Semantics note: group keys may be NULL (SQL GROUP BY treats NULL as a
real group), so the state merge joins with *null-safe* key equality.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.compat import cms_bucket, portable_hash64
from .versioning import VersionedTable, VersioningError

_KINDS = (
    "sum",
    "count",
    "min",
    "max",
    "approx_distinct",
    "countmin",
    "quantile_sample",
)


@dataclass(frozen=True)
class Measure:
    """A mergeable aggregate: ``kind`` in sum/count/min/max/
    approx_distinct/countmin/quantile_sample; ``expr`` is the input
    expression (ignored for count, which counts rows). ``depth``/
    ``width`` size the ``countmin`` cell array (error ε ≈ e/width with
    prob 1-e^-depth). ``quantile_sample`` stores a deterministic
    bottom-k min-wise-hash sample of (``key``, ``expr``) pairs — the
    mergeable quantile summary (VERDICT r07 ask #3): merging two
    groups' bottom-k sets and re-taking the k least hashes IS the
    bottom-k of the union, so incremental refresh is bit-identical to
    a rebuild, and any quantile is read off the stored sample with
    rank error O(1/√k) whp. Chosen over KLL/t-digest because the
    sample is hash-deterministic — the q331 oracle differential proves
    the whole sketch cross-engine, which compaction randomness never
    could; ``sample_size`` is k."""

    alias: str
    kind: str
    expr: Column | None = None
    depth: int = 4
    width: int = 1024
    key: Column | None = None
    sample_size: int = 256

    def __post_init__(self):
        if self.kind not in _KINDS:
            raise ValueError(f"measure kind must be one of {_KINDS}, got {self.kind!r}")
        if self.kind != "count" and self.expr is None:
            raise ValueError(f"measure {self.alias!r} ({self.kind}) needs an expr")
        if self.kind == "quantile_sample" and self.key is None:
            raise ValueError(
                f"measure {self.alias!r} (quantile_sample) needs a key "
                "expression (the per-row identity the sample hashes)"
            )


class _RefreshTaggedView:
    """What both views share: ``state`` is a ``VersionedTable`` whose
    every refresh commit is tagged ``refresh:<source_version>[:mode]``
    against the ``source`` table."""

    source: VersionedTable
    state: VersionedTable

    def last_refreshed_source_version(self) -> int | None:
        """Source version the stored state reflects (from snapshot
        tags; ``op_log`` decodes only manifests committed since the
        last lookup, so a refresh's lookup is constant-cost)."""
        refreshed = [
            int(op.split(":")[1])
            for op in self.state.op_log()
            if op.startswith("refresh:")
        ]
        return max(refreshed) if refreshed else None

    def staleness(self) -> int:
        """How many source versions behind the view is (0 = fresh)."""
        cur = self.source.current_version()
        last = self.last_refreshed_source_version()
        if cur is None:
            return 0
        return cur if last is None else cur - last


class IncrementalAggView(_RefreshTaggedView):
    def __init__(
        self,
        spark: SparkSession,
        source: VersionedTable,
        root: str,
        group_by: list[str],
        measures: list[Measure],
    ):
        if not measures:
            raise ValueError("at least one measure required")
        self.spark = spark
        self.source = source
        self.state = VersionedTable(spark, root)
        self.group_by = list(group_by)
        self.measures = list(measures)

    # -- aggregation ---------------------------------------------------

    @staticmethod
    def _cms_slot(item: Column, seed: Column, width: int) -> Column:
        """Flat cell index of ``item`` under ``seed``: seed·width +
        cms_bucket(item, seed, width) — the same layout the build, the
        merge and the point query all address, on the one Count-Min hash
        the text operators use."""
        return seed.cast("bigint") * width + cms_bucket(item, seed, width)

    def _cms_partial(self, df: DataFrame, m: Measure) -> DataFrame:
        """Per-group CMS cell array over ``df``: explode each row into
        its depth cell slots, count per (group, slot), densify to a
        depth·width array. The shuffle carries (group, slot) pairs —
        at most depth·width distinct slots per group regardless of
        input size, the bounded-state property that makes the sketch a
        view measure."""
        # NULL items are excluded from the sketch (cms_point_estimate
        # drops NULL probes, so their counts could never be queried
        # back: any cell they touched would be pure over-count noise).
        # explode_outer + the NULL guard keeps a group whose
        # items are ALL NULL present with an all-zero cell array, so
        # _partial's identical-group-sets inner-join invariant holds.
        slots = F.explode_outer(
            F.when(
                m.expr.isNotNull(),
                F.transform(
                    F.sequence(F.lit(0), F.lit(m.depth - 1)),
                    lambda s: self._cms_slot(m.expr, s, m.width),
                ),
            )
        ).alias("_slot")
        counted = (
            df.select(*self.group_by, slots)
            .groupBy(*self.group_by, "_slot")
            .agg(F.count(F.lit(1)).alias("_cnt"))
        )
        dense = F.transform(
            F.sequence(F.lit(0), F.lit(m.depth * m.width - 1)),
            lambda i: F.coalesce(
                F.element_at(F.col("_m"), i.cast("bigint")), F.lit(0).cast("bigint")
            ),
        )
        return (
            counted.groupBy(*self.group_by)
            .agg(
                F.map_from_entries(
                    # collect_list skips the NULL produced for the
                    # all-NULL-items sentinel row (map keys can't be
                    # NULL) → empty map → all-zero dense array
                    F.collect_list(
                        F.when(
                            F.col("_slot").isNotNull(),
                            F.struct(F.col("_slot"), F.col("_cnt")),
                        )
                    )
                ).alias("_m")
            )
            .select(*self.group_by, dense.alias(m.alias))
        )

    def _quantile_partial(self, df: DataFrame, m: Measure) -> DataFrame:
        """Per-group bottom-k sample state: array<struct<h,v>> of the k
        least-hash rows. Build is two bounded windowed top-k passes —
        shard-local (64 hash shards, the parallelism knob) then
        group-level over ≤ 64·k survivors — so no task ever sorts or
        collects more than 64·k rows no matter the group size; the
        final collect_list sees ≤ k rows per group."""
        from pyspark.sql import Window

        k = m.sample_size
        base = df.select(
            *self.group_by,
            portable_hash64(m.key.cast("string")).alias("_h"),
            m.expr.alias("_v"),
        ).withColumn("_shard", F.pmod(F.col("_h"), F.lit(64)))
        w1 = Window.partitionBy(*self.group_by, "_shard").orderBy("_h", "_v")
        w2 = Window.partitionBy(*self.group_by).orderBy("_h", "_v")
        kept = (
            base.withColumn("_rk", F.row_number().over(w1))
            .filter(F.col("_rk") <= k)
            .withColumn("_rk2", F.row_number().over(w2))
            .filter(F.col("_rk2") <= k)
        )
        return kept.groupBy(*self.group_by).agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("_h").alias("h"), F.col("_v").alias("v"))
                )
            ).alias(m.alias)
        )

    def _partial(self, df: DataFrame) -> DataFrame:
        cms = [m for m in self.measures if m.kind == "countmin"]
        qs = [m for m in self.measures if m.kind == "quantile_sample"]
        rest = [
            m
            for m in self.measures
            if m.kind not in ("countmin", "quantile_sample")
        ]
        parts: list[DataFrame] = []
        if rest:
            aggs = []
            for m in rest:
                if m.kind == "sum":
                    aggs.append(F.sum(m.expr).alias(m.alias))
                elif m.kind == "count":
                    aggs.append(F.count(F.lit(1)).alias(m.alias))
                elif m.kind == "min":
                    aggs.append(F.min(m.expr).alias(m.alias))
                elif m.kind == "approx_distinct":
                    aggs.append(F.hll_sketch_agg(m.expr).alias(m.alias))
                else:
                    aggs.append(F.max(m.expr).alias(m.alias))
            parts.append(df.groupBy(*self.group_by).agg(*aggs))
        parts.extend(self._cms_partial(df, m) for m in cms)
        parts.extend(self._quantile_partial(df, m) for m in qs)
        out = parts[0]
        for p in parts[1:]:
            # same input rows → identical group sets, so inner join;
            # null-safe equality because NULL is a real SQL group
            o, n = out.alias("_l"), p.alias("_r")
            newcols = [c for c in p.columns if c not in self.group_by]
            if not self.group_by:
                out = o.crossJoin(n)  # global agg: both are single-row
                continue
            cond = None
            for k in self.group_by:
                eq = F.col(f"_l.{k}").eqNullSafe(F.col(f"_r.{k}"))
                cond = eq if cond is None else (cond & eq)
            out = o.join(n, cond, "inner").select(
                "_l.*", *[F.col(f"_r.{c}") for c in newcols]
            )
        return out

    def _partial_signed(self, images: DataFrame) -> DataFrame:
        """Grouped SIGNED partial over changelog images (the classic
        counting algorithm for incremental view maintenance under
        updates/deletes): insert/update_after contribute +expr,
        delete/update_before contribute -expr — an update whose group
        and measures are unchanged cancels exactly. Only sum/count are
        sign-invertible; min/max/sketches cannot subtract (refresh
        falls back to a rebuild when they are present)."""
        sign = (
            F.when(
                F.col("_change_type").isin("insert", "update_after"),
                F.lit(1),
            )
            .otherwise(F.lit(-1))
        )
        aggs = []
        for m in self.measures:
            if m.kind == "sum":
                aggs.append(F.sum(sign * m.expr).alias(m.alias))
            elif m.kind == "count":
                aggs.append(F.sum(sign).cast("long").alias(m.alias))
            else:  # pragma: no cover — guarded by the caller
                raise VersioningError(
                    f"measure kind {m.kind!r} is not CDC-refreshable"
                )
        return images.groupBy(*self.group_by).agg(*aggs)

    def _merge(self, old: DataFrame, delta: DataFrame) -> DataFrame:
        o, n = old.alias("o"), delta.alias("n")
        cond = None
        for k in self.group_by:
            eq = F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}"))
            cond = eq if cond is None else (cond & eq)
        joined = o.join(n, cond, "full_outer")
        out = [
            F.coalesce(F.col(f"o.{k}"), F.col(f"n.{k}")).alias(k)
            for k in self.group_by
        ]
        for m in self.measures:
            ov, nv = F.col(f"o.{m.alias}"), F.col(f"n.{m.alias}")
            if m.kind in ("sum", "count"):
                merged = (
                    F.when(ov.isNull(), nv)
                    .when(nv.isNull(), ov)
                    .otherwise(ov + nv)
                )
            elif m.kind == "min":
                merged = (
                    F.when(ov.isNull(), nv)
                    .when(nv.isNull(), ov)
                    .otherwise(F.least(ov, nv))
                )
            elif m.kind == "approx_distinct":
                merged = (
                    F.when(ov.isNull(), nv)
                    .when(nv.isNull(), ov)
                    .otherwise(F.hll_union(ov, nv))
                )
            elif m.kind == "countmin":
                merged = (
                    F.when(ov.isNull(), nv)
                    .when(nv.isNull(), ov)
                    .otherwise(F.zip_with(ov, nv, lambda a, b: a + b))
                )
            elif m.kind == "quantile_sample":
                # bottom-k of a union = k least of the concatenated
                # bottom-k sets — the property that makes the sample a
                # true mergeable summary (delta rows are new, so hashes
                # never collide with stored ones)
                merged = (
                    F.when(ov.isNull(), nv)
                    .when(nv.isNull(), ov)
                    .otherwise(
                        F.slice(
                            F.array_sort(F.concat(ov, nv)),
                            1,
                            m.sample_size,
                        )
                    )
                )
            else:
                merged = (
                    F.when(ov.isNull(), nv)
                    .when(nv.isNull(), ov)
                    .otherwise(F.greatest(ov, nv))
                )
            out.append(merged.alias(m.alias))
        return joined.select(*out)

    # -- refresh -------------------------------------------------------

    def refresh(self) -> int | None:
        """Bring the view up to the source's current version. Returns
        the new state-table version, or None if already fresh."""
        src_v = self.source.current_version()
        if src_v is None:
            raise VersioningError("source table is empty — nothing to materialize")
        last = self.last_refreshed_source_version()
        if last == src_v:
            return None
        if last is None:
            new_state = self._partial(self.source.read())
            return self.state.write(
                new_state, mode="overwrite", _op=f"refresh:{src_v}:full"
            )
        try:
            delta = self.source.changes(last, src_v)
        except VersioningError:
            # rewrite commit (merge/delete/overwrite/compact) inside
            # the window. If every measure is sign-invertible AND a
            # count measure exists (to drop groups whose membership
            # hits zero — a rebuild would not have them), refresh from
            # row-level CHANGE IMAGES instead of rescanning the source
            # (the counting algorithm); otherwise rebuild — correct
            # over fast, loudly.
            cdc_ok = all(
                m.kind in ("sum", "count") for m in self.measures
            ) and any(m.kind == "count" for m in self.measures)
            if cdc_ok:
                images = self.source.changelog(last, src_v)
                merged = self._merge(
                    self.state.read(), self._partial_signed(images)
                )
                n_col = next(
                    m.alias for m in self.measures if m.kind == "count"
                )
                new_state = merged.filter(F.col(n_col) > 0)
                return self.state.write(
                    new_state, mode="overwrite", _op=f"refresh:{src_v}:cdc"
                )
            new_state = self._partial(self.source.read())
            return self.state.write(
                new_state, mode="overwrite", _op=f"refresh:{src_v}:full"
            )
        new_state = self._merge(self.state.read(), self._partial(delta))
        return self.state.write(
            new_state, mode="overwrite", _op=f"refresh:{src_v}:delta"
        )

    def read(self, estimated: bool = False) -> DataFrame:
        """The current state. ``estimated=True`` renders sketch-typed
        measures (approx_distinct) as BIGINT estimates; the default
        returns raw state (sketches stay binary and re-mergeable)."""
        df = self.state.read()
        if not estimated:
            return df
        cols = []
        for k in self.group_by:
            cols.append(F.col(k))
        for m in self.measures:
            if m.kind == "approx_distinct":
                cols.append(F.hll_sketch_estimate(F.col(m.alias)).alias(m.alias))
            else:
                # countmin has no scalar rendering without a probe item
                # (use cms_point_estimate); its raw cells pass through
                cols.append(F.col(m.alias))
        return df.select(*cols)

    def sample_quantile(self, alias: str, pct: int) -> DataFrame:
        """Estimated p-th percentile per group from the stored bottom-k
        sample alone (no source scan): the sample's values are a
        uniform without-replacement sample of the group, so its exact
        order statistic estimates the group's with rank error O(1/√k)
        whp. ``pct`` is an integer percent; the pick index is the
        integer ceil(m·pct/100) — no float thresholds, same formula as
        q331's oracle."""
        m = next(x for x in self.measures if x.alias == alias)
        if m.kind != "quantile_sample":
            raise ValueError(f"measure {alias!r} is {m.kind}, not quantile_sample")
        if not 1 <= pct <= 100:
            # pct=0 would pick element_at(vs, 0) — an illegal array index
            # in Spark — and pct>100 silently indexes past the sample
            # returning NULL (round-8 advice finding).
            raise ValueError(f"pct must be in 1..100, got {pct}")
        vs = F.array_sort(
            F.transform(F.col(alias), lambda x: x.getField("v"))
        )
        msize = F.size(F.col(alias))
        # integer ceil(m·pct/100) in pure integer arithmetic (no double
        # division round-trip): (m*pct + 99) div 100
        idx = F.expr(f"(size({alias}) * {pct} + 99) div 100").cast("int")
        est = F.element_at(vs, idx)
        return self.state.read().select(
            *self.group_by,
            msize.cast("bigint").alias("m_sample"),
            est.alias(f"{alias}_p{pct}"),
        )

    def cms_point_estimate(
        self, alias: str, probes: DataFrame, item_col: str = "item"
    ) -> DataFrame:
        """Estimated frequency of each probe item within each group,
        from the stored sketch alone: min over seeds of
        cells[slot(item, seed)] — never over-reads the source. Probes
        (a small candidate list, e.g. q85g's freqItems shortlist) are
        broadcast against the |groups|-row state; cost
        O(|state|·|probes|·depth), source-size-independent. Estimates
        never undercount (CMS one-sided error)."""
        m = next(
            (
                mm
                for mm in self.measures
                if mm.alias == alias and mm.kind == "countmin"
            ),
            None,
        )
        if m is None:
            raise ValueError(f"no countmin measure named {alias!r}")
        # The cell hash reads the item's string form, which depends on
        # its type (5 and 5.0 hash apart): coerce probes to the measure
        # expression's resolved type so a probe of another type can't
        # silently address wrong cells and break the one-sided bound.
        # Resolving the type is a schema-only read of the source, no job.
        build_type = (
            self.source.read().select(m.expr.alias("_t")).schema[0].dataType
        )
        # try_cast (never ANSI-throwing) + eager validation: a probe
        # that can't coerce to the build type would otherwise become
        # NULL and be dropped without a word — a missing estimate for
        # an item the caller asked about. Probes are a tiny shortlist,
        # so the validation count is a broadcast-sized job.
        coerced = probes.select(
            F.col(item_col).alias("_raw"),
            F.col(item_col).try_cast(build_type).alias("_item"),
        )
        bad = [
            r["_raw"]
            for r in coerced.where(
                F.col("_raw").isNotNull() & F.col("_item").isNull()
            )
            .select("_raw")
            .limit(5)
            .collect()
        ]
        if bad:
            raise ValueError(
                f"probe values {bad!r} cannot be coerced to the sketch's "
                f"build type {build_type.simpleString()}; estimates for "
                "them would be meaningless"
            )
        pr = F.broadcast(coerced.select("_item").where(F.col("_item").isNotNull()).distinct())
        ests = F.transform(
            F.sequence(F.lit(0), F.lit(m.depth - 1)),
            lambda s: F.element_at(
                F.col(alias),
                (self._cms_slot(F.col("_item"), s, m.width) + 1).cast("int"),
            ),
        )
        return (
            self.state.read()
            .crossJoin(pr)
            .select(
                *self.group_by,
                F.col("_item").alias(item_col),
                F.array_min(ests).alias(f"{alias}_estimate"),
            )
        )


class IncrementalSessionView(_RefreshTaggedView):
    """Incrementally-maintained gap-based SESSIONIZATION over an
    append-only ``VersionedTable`` of events — the non-aligned-window
    counterpart of ``IncrementalAggView`` (VERDICT r06 ask #4b: q272's
    lakehouse loop closed for session windows, which no group-key merge
    can express because sessions MERGE across refreshes).

    State = one row per session fragment: (key, session_start,
    session_end = last event + gap, n_events, total_value as exact
    DECIMAL(38,2)). Each refresh sessionizes ONLY the delta read from
    ``source.changes(last, cur)`` and interval-merges the resulting
    fragments into the stored state for contested keys (semi/anti split
    — untouched keys pass through byte-identical, the merge(precedence)
    lesson). Correct because gap sessionization is ASSOCIATIVE:
    sessionize(A ∪ B) == interval_merge(sessionize(A) ∪ sessionize(B))
    — two fragments belong to one session iff their [start, last+gap)
    intervals touch, regardless of which batch delivered which event;
    late or out-of-order batches just produce fragments that merge
    backward. Per-refresh cost is O(|delta| + |contested-key state|),
    independent of source size.

    The session rule mirrors the repo's lag/cumulative-flag oracle
    (events with gap strictly greater than ``gap_minutes`` start a new
    session), so the final state equals the from-scratch batch
    sessionization — which is exactly what q290's oracle computes."""

    def __init__(
        self,
        spark: SparkSession,
        source: VersionedTable,
        root: str,
        key: str = "user_id",
        ts_col: str = "tsec",
        value_col: str = "value",
        gap_minutes: int = 30,
    ):
        self.spark = spark
        self.source = source
        self.state = VersionedTable(spark, root)
        self.key = key
        self.ts_col = ts_col
        self.value_col = value_col
        self.gap_minutes = gap_minutes

    # -- sessionization ------------------------------------------------

    def _gap(self):
        return F.expr(f"INTERVAL {self.gap_minutes} MINUTES")

    def _fragments(self, df: DataFrame) -> DataFrame:
        """Sessionize one event frame with the lag/cumulative-flag
        decomposition (the oracle's own rule: gap STRICTLY greater than
        ``gap_minutes`` starts a new session)."""
        from pyspark.sql import Window as W

        k, t = self.key, self.ts_col
        w = W.partitionBy(k).orderBy(t)
        prev = F.lag(t).over(w)
        is_new = F.when(
            prev.isNull() | (F.col(t) > prev + self._gap()), 1
        ).otherwise(0)
        sess = df.withColumn("_new", is_new).withColumn(
            "_sno",
            F.sum("_new").over(
                W.partitionBy(k).orderBy(t).rowsBetween(W.unboundedPreceding, 0)
            ),
        )
        return sess.groupBy(k, "_sno").agg(
            F.min(t).alias("session_start"),
            (F.max(t) + self._gap()).alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col(self.value_col).cast("decimal(18,2)"))
            .cast("decimal(38,2)")
            .alias("total_value"),
        ).drop("_sno")

    def _interval_merge(self, frags: DataFrame) -> DataFrame:
        """Merge touching/overlapping fragments per key: a fragment
        starts a new session iff its start is strictly after the
        running max end of all earlier fragments (start == prev end
        means the boundary event arrived at exactly the gap — same
        session under the strict-greater rule). Fragment event sets
        are disjoint by construction, so counts and sums add."""
        from pyspark.sql import Window as W

        k = self.key
        w = W.partitionBy(k).orderBy("session_start", "session_end")
        prev_end = F.max("session_end").over(
            w.rowsBetween(W.unboundedPreceding, -1)
        )
        flagged = frags.withColumn(
            "_new",
            F.when(
                prev_end.isNull() | (F.col("session_start") > prev_end), 1
            ).otherwise(0),
        ).withColumn(
            "_sno", F.sum("_new").over(w.rowsBetween(W.unboundedPreceding, 0))
        )
        return flagged.groupBy(k, "_sno").agg(
            F.min("session_start").alias("session_start"),
            F.max("session_end").alias("session_end"),
            F.sum("n_events").alias("n_events"),
            F.sum("total_value").cast("decimal(38,2)").alias("total_value"),
        ).drop("_sno")

    # -- refresh (IncrementalAggView's skeleton, session merge) -------

    def refresh(self) -> int | None:
        src_v = self.source.current_version()
        if src_v is None:
            raise VersioningError("source table is empty — nothing to materialize")
        last = self.last_refreshed_source_version()
        if last == src_v:
            return None
        tag = f"refresh:{src_v}"
        if last is None:
            new_state = self._fragments(self.source.read())
        else:
            try:
                delta = self.source.changes(last, src_v)
            except VersioningError:
                new_state = self._fragments(self.source.read())
                return self.state.write(new_state, mode="overwrite", _op=tag)
            frags = self._fragments(delta)
            old = self.state.read()
            affected = frags.select(self.key).distinct()
            contested = old.join(affected, self.key, "left_semi")
            untouched = old.join(affected, self.key, "left_anti")
            merged = self._interval_merge(contested.unionByName(frags))
            new_state = untouched.unionByName(merged)
        return self.state.write(new_state, mode="overwrite", _op=tag)

    def read(self) -> DataFrame:
        return self.state.read()
