"""Plan-shape guardrails (SURVEY §4): pushdown, pruning, join strategy,
shuffle counts — the properties that decide whether a query survives a
100× scale-up, asserted against the actual physical plans."""

from __future__ import annotations

import pytest

from aws_iceberg_automation_spark.plans.explain import (
    count_exchanges,
    has_operator,
    join_strategies,
    pushed_filters,
    read_schema_columns,
)
from aws_iceberg_automation_spark.registry import all_specs
from tests.conftest import SF_DIR

SPECS = all_specs()


def q(name, spark):
    return SPECS[name].fn(spark, SF_DIR)


def test_flagship_pushdown_and_pruning(spark):
    df = q("q01_pricing_summary", spark)
    assert any("l_shipdate" in f for f in pushed_filters(df)), "filter not pushed to scan"
    cols = read_schema_columns(df)
    assert "l_orderkey" not in cols and "l_partkey" not in cols, (
        f"column pruning lost: reading {cols}"
    )
    assert len(cols) == 7


def test_filter_query_pushes_all_predicates(spark):
    df = q("q24_filter_predicates", spark)
    pushed = " ".join(pushed_filters(df))
    for col in ["l_quantity", "l_discount", "l_shipdate", "l_returnflag"]:
        assert col in pushed, f"{col} predicate not pushed: {pushed}"


def test_broadcast_dims_stay_broadcast(spark):
    for name in ["q32_broadcast_dim_join", "q37_star_join_revenue"]:
        strategies = join_strategies(q(name, spark))
        assert "SortMergeJoin" not in strategies or name == "q37_star_join_revenue", (
            f"{name}: dimension join degraded to {strategies}"
        )
        assert "BroadcastHashJoin" in strategies, f"{name}: no broadcast join: {strategies}"


def test_range_band_join_is_broadcast_nlj(spark):
    strategies = join_strategies(q("q33_range_band_join", spark))
    assert "BroadcastNestedLoopJoin" in strategies
    assert "CartesianProduct" not in strategies


def test_interval_join_is_hash_not_nlj(spark):
    strategies = join_strategies(q("q36_interval_join", spark))
    assert "BroadcastNestedLoopJoin" not in strategies, (
        f"bucketed interval join degraded to NLJ: {strategies}"
    )
    assert "CartesianProduct" not in strategies


def test_ann_lsh_join_is_equi_hash(spark):
    strategies = join_strategies(q("q83b_ann_lsh_topk", spark))
    assert "BroadcastNestedLoopJoin" not in strategies
    assert "CartesianProduct" not in strategies


def test_partition_local_sort_has_no_exchange(spark):
    assert count_exchanges(q("q57_partition_local_sort", spark)) == 0


def test_topk_uses_take_ordered(spark):
    assert has_operator(q("q59_topk_global", spark), "TakeOrderedAndProject")


def test_flagship_single_data_shuffle(spark):
    # one aggregate exchange + one tiny final-sort exchange, plus the
    # r10 undersplit-guard hash repartition (local fixtures only — the
    # guard is a no-op once the scan splits past the parallelism)
    assert count_exchanges(q("q01_pricing_summary", spark)) <= 3


def test_partition_pruning_on_layout(spark, tmp_path_factory):
    """Day-partitioned layout (sources.write_partitioned) must prune:
    a day-filtered scan reads only matching partition dirs."""
    import pyspark.sql.functions as F

    from aws_iceberg_automation_spark.io import load_table
    from aws_iceberg_automation_spark.plans.explain import plan_string
    from aws_iceberg_automation_spark.sources.files import write_partitioned

    d = str(tmp_path_factory.mktemp("pruned"))
    ev = load_table(spark, SF_DIR, "events").withColumn(
        "day", F.col("ts").cast("date").cast("string")
    )
    write_partitioned(ev, d, partition_by=["day"], sort_within=["ts"])
    scan = spark.read.parquet(d).filter(F.col("day") == "2024-01-05")
    p = plan_string(scan)
    assert "PartitionFilters" in p and "2024-01-05" in p
    assert scan.count() == ev.filter(F.col("day") == "2024-01-05").count()


def test_bucketed_join_eliminates_shuffle(spark, tmp_path_factory):
    """Bucketing (the lakehouse co-location layout): two tables bucketed
    on the join key into the same bucket count join WITHOUT a shuffle —
    the scan itself satisfies the join's distribution requirement. This
    is the `bucket(N, key)` Iceberg transform story, exercised on the
    session catalog."""
    import pyspark.sql.functions as F

    from aws_iceberg_automation_spark.io import load_table
    from aws_iceberg_automation_spark.plans.explain import count_exchanges

    wh = str(tmp_path_factory.mktemp("bucketed_wh"))
    spark.sql("CREATE DATABASE IF NOT EXISTS bkt")
    for t in ["orders", "lineitem"]:
        spark.sql(f"DROP TABLE IF EXISTS bkt.{t}_b")
    load_table(spark, SF_DIR, "orders").write.bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).option("path", f"{wh}/orders_b").saveAsTable("bkt.orders_b")
    load_table(spark, SF_DIR, "lineitem").write.bucketBy(8, "l_orderkey").sortBy(
        "l_orderkey"
    ).option("path", f"{wh}/lineitem_b").saveAsTable("bkt.lineitem_b")

    o, li = spark.table("bkt.orders_b"), spark.table("bkt.lineitem_b")
    joined = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_linenumber", "o_totalprice"
    )
    # disable broadcast so the join would otherwise shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        assert count_exchanges(joined) == 0, "bucketed join still shuffles"
        assert joined.count() == load_table(spark, SF_DIR, "lineitem").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS bkt.orders_b")
        spark.sql("DROP TABLE IF EXISTS bkt.lineitem_b")
        spark.sql("DROP DATABASE IF EXISTS bkt")


def test_aqe_splits_skewed_join(spark):
    """AQE skew-join handling: a 95%-one-key join gets its hot partition
    split at runtime (the final adaptive plan marks the join skew=true).
    This is the engine's answer to hot keys when salting isn't wired."""
    import pyspark.sql.functions as F

    from aws_iceberg_automation_spark.io import load_table

    # The skewed side must come from MULTIPLE map tasks: AQE splits a hot
    # reduce partition at map-output granularity, so a single-mapper
    # stage (one-file scan) is one unsplittable chunk. (At 100 TB there
    # are always many mappers; on the 1-file fixture we repartition.)
    li = load_table(spark, SF_DIR, "lineitem").repartition(8)
    # independent lineages: a shared shuffle would be a ReusedExchange,
    # which the skew optimizer refuses to split
    skewed = li.withColumn(
        "skey", F.when(F.col("l_linenumber") >= 2, F.lit(0)).otherwise(F.col("l_orderkey"))
    )
    dim = load_table(spark, SF_DIR, "orders").select(
        F.col("o_orderkey").alias("skey"), "o_totalprice"
    )
    conf_keys = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
    }
    old = {k: spark.conf.get(k, None) for k in conf_keys}
    for k, v in conf_keys.items():
        spark.conf.set(k, v)
    try:
        joined = skewed.join(dim, "skey").select("skey", "l_orderkey", "o_totalprice")
        # collect() executes *this* DataFrame's queryExecution — a write
        # sink would build its own plan and leave this one un-adapted
        assert len(joined.collect()) > 0
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, "AQE did not split the skewed partition"
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_projection_is_scan_only(spark):
    df = q("q23_projection", spark)
    assert count_exchanges(df) == 0
    assert read_schema_columns(df) == {
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_returnflag",
    }


def test_corpus_curation_single_wide_shuffle(spark):
    """q101's only wide dependency is the dedup window on norm_key: one
    Exchange for the window, one for the final (tiny) aggregate —
    filters run below, nothing else shuffles the corpus."""
    df = q("q101_corpus_curation", spark)
    assert count_exchanges(df) <= 2, plan_string_excerpt(df)
    assert "SortMergeJoin" not in join_strategies(df)


def test_kmeans_assignment_is_broadcast_plus_partial_agg(spark):
    """Lloyd assignment must broadcast the k-row centroid table (never
    shuffle the corpus for the join) and reduce the N×k scored rows
    through a partial (map-side) aggregate."""
    from pyspark.sql import functions as F

    from aws_iceberg_automation_spark.io import load_table
    from aws_iceberg_automation_spark.operators.similarity import (
        spherical_kmeans,
    )

    e = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").alias("v")
    )
    cent = spherical_kmeans(e, "v", k=8, max_iter=1, checkpoint=False)
    assert has_operator(cent, "BroadcastHashJoin") or has_operator(
        cent, "BroadcastNestedLoopJoin"
    )
    assert has_operator(cent, "partial_max_by") or has_operator(
        cent, "HashAggregate"
    )
    assert "SortMergeJoin" not in join_strategies(cent)


def test_lsh_capped_pairing_stays_hash_join(spark):
    """The salted LSH candidate join must remain a hash join on the
    (band, band_hash, salt) equi-keys — a nested loop over two corpus
    sides is the quadratic failure mode the cap exists to prevent."""
    from aws_iceberg_automation_spark.io import load_table
    from aws_iceberg_automation_spark.operators.dedup import (
        minhash_candidate_pairs,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    pairs = minhash_candidate_pairs(docs)
    strategies = join_strategies(pairs)
    assert not any("NestedLoop" in s for s in strategies), strategies


def plan_string_excerpt(df):
    from aws_iceberg_automation_spark.plans.explain import plan_string

    return plan_string(df)[:2000]


def test_pii_scrub_is_map_only(spark):
    """q103 is chained regexp_replace over one table — zero Exchange,
    zero joins; the cheapest possible pass shape at any scale."""
    df = q("q103_pii_scrub", spark)
    assert count_exchanges(df) == 0
    assert join_strategies(df) == []


def test_contamination_eval_side_broadcasts(spark):
    """q104's eval n-gram probe must reach the train side as a
    broadcast (LEFT SEMI) — shuffling the 100 TB train explode on the
    n-gram key would be the scale killer. Per-doc counts then aggregate
    on doc_id with map-side partials."""
    df = q("q104_contamination_check", spark)
    strategies = join_strategies(df)
    assert any("Broadcast" in s for s in strategies), strategies
    assert "SortMergeJoin" not in strategies


def test_domain_mixture_census_broadcasts_back(spark):
    """q106's per-language rate table is |languages| rows — it must
    broadcast back onto the corpus, never shuffle the corpus on lang."""
    df = q("q106_domain_mixture", spark)
    strategies = join_strategies(df)
    assert any("Broadcast" in s for s in strategies), strategies
    assert "SortMergeJoin" not in strategies


def test_registry_wide_plan_lint(spark):
    """Every registered batch query's physical plan, linted:

    - no ``BatchEvalPython`` anywhere — row-at-a-time Python UDFs are
      banned from the engine outright (Arrow-batched ``ArrowEvalPython``
      / ``FlatMapGroupsInPandas`` etc. are the sanctioned Python
      boundary, and only in queries tagged for it);
    - no ``CartesianProduct`` except queries explicitly tagged
      ``allpairs`` (bounded ground-truth slices) or ``cross`` (the
      guarded cross-join demo);
    - Python boundaries only in tagged queries (udf / vector /
      multimodal / sketch consumers);
    - no UNPARTITIONED window anywhere (round-3 invariant: the whole
      input moving to one task is the engine's one forbidden plan —
      top-N pre-bounds via TakeOrdered + windowless rank, exact
      rank/ntile/ECDF run through the quantile-bucket decompositions
      in functions/ranking.py).

    One stray .collect()-shaped regression or accidental udf in a hot
    path fails here, not at 100 TB."""
    import re

    from aws_iceberg_automation_spark.plans.explain import plan_string

    # an unpartitioned windowspecdefinition's FIRST argument is either a
    # sort order (expr ASC/DESC ... — ordered global window) or the
    # frame spec itself (specifiedwindowframe(... — orderless global
    # aggregate window, e.g. sum OVER ()); partitioned ones lead with
    # bare partition columns. The first argument is extracted by
    # balanced-paren scan to the first TOP-LEVEL comma, so a compound
    # leading sort key (e.g. cast(x#3 as double) ASC) is caught too —
    # a bare-regex `[^,()]+ ASC` would let it through (ADVICE r03).
    def _unpartitioned_window(plan: str) -> bool:
        marker = "windowspecdefinition("
        at = 0
        while (at := plan.find(marker, at)) != -1:
            i = at + len(marker)
            depth = 0
            while i < len(plan) and not (depth == 0 and plan[i] in ",)"):
                if plan[i] == "(":
                    depth += 1
                elif plan[i] == ")":
                    depth -= 1
                i += 1
            first_arg = plan[at + len(marker): i].strip()
            if first_arg.startswith("specifiedwindowframe") or re.search(
                r"\s(ASC|DESC)(\s+NULLS\s+(FIRST|LAST))?$", first_arg
            ):
                return True
            at = i
        return False
    py_ok_tags = {"udf", "vector", "multimodal", "streaming"}
    problems: list[str] = []
    for name, spec in SPECS.items():
        if "streaming" in spec.tags:
            continue  # replay harness queries run side effects; linted via their batch twins
        df = spec.fn(spark, SF_DIR)
        p = plan_string(df)
        if "BatchEvalPython" in p:
            problems.append(f"{name}: row-at-a-time Python UDF")
        if _unpartitioned_window(p):
            problems.append(f"{name}: unpartitioned window (single-task stage)")
        if "CartesianProduct" in p and not (
            {"allpairs", "cross"} & set(spec.tags)
        ):
            problems.append(f"{name}: untagged CartesianProduct")
        if (
            any(op in p for op in ("ArrowEvalPython", "FlatMapGroupsInPandas",
                                   "MapInPandas", "AggregateInPandas"))
            and not (py_ok_tags & set(spec.tags))
        ):
            problems.append(f"{name}: Python boundary in untagged query")
    assert not problems, problems


def test_dynamic_partition_pruning_fires(spark, tmp_path_factory):
    """DPP (the Iceberg/Hive star-join saver): joining a partitioned
    fact to a selectively-filtered dim must inject a runtime partition
    filter — only the dim's surviving partitions get scanned, decided
    at execution time, not parse time. Requires a real filter predicate
    on the dim side (a bare value list does not qualify)."""
    import pyspark.sql.functions as F

    from aws_iceberg_automation_spark.io import load_table
    from aws_iceberg_automation_spark.plans.explain import plan_string

    d = str(tmp_path_factory.mktemp("dpp"))
    o = load_table(spark, SF_DIR, "orders").withColumn(
        "om", F.date_format("o_orderdate", "yyyy-MM")
    )
    o.write.mode("overwrite").partitionBy("om").parquet(d)
    po = spark.read.parquet(d)
    months = spark.createDataFrame(
        [(f"1996-{m:02d}", m) for m in range(1, 13)], "om string, mnum int"
    ).filter(F.col("mnum").isin(3, 4))
    j = po.join(F.broadcast(months), "om")
    assert "dynamicpruning" in plan_string(j).lower()
    assert j.count() == o.filter(F.col("om").isin("1996-03", "1996-04")).count()


def test_runtime_bloom_filter_injected_on_smj(spark):
    """Runtime bloom-filter join pruning: when a selective fact⋈fact
    SMJ can't broadcast, Spark builds a bloom filter from the small
    side and pushes it into the big side's scan — rows that can't match
    die before the shuffle. Fixture scans are below the default 10 GB
    application threshold, so the test lowers it to prove the engine's
    configs leave the feature able to fire at real scale."""
    import pyspark.sql.functions as F

    from aws_iceberg_automation_spark.io import load_table
    from aws_iceberg_automation_spark.plans.explain import plan_string

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        li = load_table(spark, SF_DIR, "lineitem")
        big = load_table(spark, SF_DIR, "orders").filter(
            F.col("o_totalprice") > 400000
        )
        j = li.join(big, li.l_orderkey == big.o_orderkey)
        assert "bloom" in plan_string(j).lower()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )


def test_scalable_rank_matches_plain_window(spark):
    """scalable_row_number must equal the single-window row_number
    exactly (same grouping, ordering, tiebreak) — differential on the
    orders fixture, and the scalable plan must not funnel the data
    through a |groups|-wide exchange only."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from aws_iceberg_automation_spark.io import load_table
    from aws_iceberg_automation_spark.operators.windows import scalable_row_number

    o = load_table(spark, SF_DIR, "orders")
    order = [F.col("o_totalprice").desc(), F.col("o_orderkey")]
    w = Window.partitionBy("o_orderpriority").orderBy(*order)
    plain = o.select(
        "o_orderkey", F.row_number().over(w).cast("int").alias("rn")
    )
    scal = scalable_row_number(o, ["o_orderpriority"], order).select(
        "o_orderkey", "rn"
    )
    assert plain.exceptAll(scal).count() == 0
    assert scal.exceptAll(plain).count() == 0
    # offsets side must broadcast (the join that stitches phases).
    assert "BroadcastHashJoin" in join_strategies(scal)


def test_token_entropy_is_map_only(spark):
    """q141 computes per-doc entropy with higher-order array folds —
    the plan must contain NO exchange at all (the whole point of
    trading the explode+two-groupBy shape for per-row O(v·n))."""
    df = q("q141_token_entropy", spark)
    assert count_exchanges(df) == 0, "entropy picked up a shuffle"


def test_supplier_variety_exclusion_broadcasts(spark):
    """q139's NOT-IN exclusion must plan as a broadcast anti join and
    its part-dim join as broadcast hash — the fact side streams once,
    never sort-merge."""
    strategies = join_strategies(q("q139_supplier_part_variety", spark))
    assert "BroadcastHashJoin" in strategies, strategies
    assert "SortMergeJoin" not in strategies, strategies


def test_topk_per_group_uses_window_group_limit(spark):
    """q60 must plan with WindowGroupLimit (Spark 3.5+): the rank<=k
    filter is pushed INTO the window as a per-partition top-k heap —
    partial (map-side) + final — so the shuffle carries at most k rows
    per group per mapper instead of every row. This is the window
    analogue of TakeOrdered and the reason per-group top-k survives
    hot groups at scale."""
    from aws_iceberg_automation_spark.plans.explain import plan_string

    p = plan_string(q("q60_topk_per_group", spark))
    assert "WindowGroupLimit" in p, "rank filter not pushed into window"
    assert "Partial" in p and "Final" in p


def test_rolling_distinct_exact_scans_events_once(spark):
    """q197's docstring claims the events table is touched ONCE: the
    window-end validity check is an aggregate flag, not a semi-join
    against a second scan. One FileScan, no join operator."""
    import re

    from aws_iceberg_automation_spark.plans.explain import plan_string

    df = q("q197_rolling_distinct_exact", spark)
    p = plan_string(df)
    scans = set(re.findall(r"\((\d+)\) Scan parquet", p))
    assert len(scans) == 1, p
    assert "Join" not in p, p


def test_tfidf_top_terms_uses_window_group_limit(spark):
    """q246's docstring claims its per-source top-5 compiles to
    WindowGroupLimit (map-side partial limits — the vocabulary never
    moves whole). Assert it, as test_topk_per_group does for q60: a
    regression to a plain windowed rank would silently shuffle the
    entire vocabulary per source."""
    from aws_iceberg_automation_spark.plans.explain import plan_string

    p = plan_string(q("q246_tfidf_top_terms", spark))
    assert "WindowGroupLimit" in p, "tfidf top-5 not pushed into window"
    assert "Partial" in p and "Final" in p


@pytest.mark.parametrize(
    "name",
    [
        "q243_duplicate_ngram_mass",
        "q262_positional_dup_mass",
        "q258_forecast_backtest",
    ],
)
def test_gram_and_backtest_joins_stay_keyed(name, spark):
    """The dup-gram census pair joins two gram-keyed reduced frames and
    the forecast backtest self-joins the daily grid on (nation, d) —
    all pure equi-joins by construction. Assert Catalyst never degrades
    them to a nested-loop or cartesian strategy (the all-pairs shapes
    these operators exist to avoid)."""
    from aws_iceberg_automation_spark.plans.explain import join_strategies

    strategies = join_strategies(q(name, spark))
    assert strategies, f"{name}: expected at least one join"
    bad = [s for s in strategies if s in ("BroadcastNestedLoopJoin", "CartesianProduct")]
    assert not bad, f"{name}: non-equi join strategy planned: {strategies}"


def test_doc_repetition_prunes_to_two_columns(spark):
    """q265 reads only (doc_id, text) — the scan's ReadSchema must not
    drag lang/source/n_chars through the map-side gram math. Its only
    exchanges are the (doc_id, gram)-grain partial-agg pair plus the
    doc-grain stitch join; the 5-gram metrics themselves are map-only
    higher-order array work on the scan side."""
    import re

    from aws_iceberg_automation_spark.plans.explain import plan_string

    df = q("q265_doc_repetition", spark)
    p = plan_string(df)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas, p
    for s in schemas:
        cols = {c.split(":")[0] for c in s.split(",") if c}
        assert cols <= {"doc_id", "text"}, f"pruning lost: {cols}"
    strategies = [
        s
        for s in re.findall(r"(\w*Join\w*)", p)
        if s in ("BroadcastNestedLoopJoin", "CartesianProduct")
    ]
    assert not strategies, f"non-equi strategy in q265: {strategies}"


def test_embedding_outliers_uses_window_group_limit(spark):
    """q267's docstring claims the label-partitioned bottom-5 compiles
    to WindowGroupLimit and the centroid/norm frames broadcast — the
    corpus-side frame must never sort-merge against a labels×dims
    frame."""
    import re

    from aws_iceberg_automation_spark.plans.explain import plan_string

    p = plan_string(q("q267_embedding_outliers", spark))
    assert "WindowGroupLimit" in p, "bottom-5 not pushed into window"
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p, p


def test_headline_set_aqe_final_shapes(spark):
    """POST-AQE audit of the bench headline set (VERDICT r09 ask #5):
    the registry-wide lint reads the PRE-execution explain, which AQE
    can supersede at runtime — a broadcast the lint approved can demote
    to SortMergeJoin once real stage sizes arrive. This executes every
    headline query at the test sf and pins the strategies/exchange
    counts of the plan that ACTUALLY ran. Drift = re-measure: if the
    new shape is intended (better), update the pin; if a broadcast
    became SMJ or a shuffle appeared, that's the 100 TB regression
    this test exists to catch."""
    import re

    from aws_iceberg_automation_spark.plans.explain import (
        final_exchange_count,
        final_plan_string,
    )
    from aws_iceberg_automation_spark.registry import all_specs

    expected = {
        "q01_pricing_summary": ([], 6),  # +guard repartition (r10)
        "q28_inner_equi_join": (["BroadcastHashJoin"], 0),
        "q32_broadcast_dim_join": (["BroadcastHashJoin"], 2),
        "q37_star_join_revenue": (["BroadcastHashJoin"], 2),
        "q284_bucketed_join": (["BroadcastHashJoin"], 2),
        "q38_hash_agg_groupby": ([], 2),
        "q50_ranking_functions": ([], 2),
        "q92_shipping_priority": (["BroadcastHashJoin"], 2),
        "q93_forecast_revenue_change": ([], 2),
        "q94_returned_item_ranking": (["BroadcastHashJoin"], 2),
        # r10 literal-offsets rewrite (functions/ranking.py): the RFM
        # decomposition no longer joins at all — offsets/total are
        # literal lookups; what remains is the per-customer agg, one
        # partitioned rank window per dimension, and the final segment
        # agg (was BHJ+BNL scaffolding with 39 exchanges)
        "q208_rfm_segments": ([], 8),  # r10: per_cust checkpointed, its agg exchange leaves the plan
        "q73_tumbling_window": ([], 2),
        "q82_minhash_lsh_neardup": (["BroadcastHashJoin"], 8),
        # r10 undersplit guard, hash-keyed on doc_id (A/B 1.927->0.896 s
        # at sf0.1): the ivs-back-to-w join is now CO-PARTITIONED on
        # doc_id, so the planner picks a zero-exchange SortMergeJoin
        # there instead of a broadcast — fewer exchanges than the
        # round-robin form (10 -> 8). Local-fixture shape only: the
        # guard no-ops at production split counts and the plan reverts
        # to the pure-broadcast form.
        "q171_span_dedup_clean": (["BroadcastHashJoin", "SortMergeJoin"], 8),
        # r10 undersplit guard on the corpus side (hash A/B 0.607->0.297 s)
        "q83_cosine_topk_exact": (["BroadcastNestedLoopJoin"], 4),
        "q172_pq_adc_topk": (["BroadcastHashJoin"], 4),
        "q85b_top_terms": ([], 6),
    }
    specs = all_specs()
    headline = [
        n for n, s in specs.items()
        if "bench" in s.tags and "streaming" not in s.tags
    ]
    assert sorted(headline) == sorted(expected), (
        "bench set changed — re-pin this audit"
    )
    for name in headline:
        df = specs[name].fn(spark, SF_DIR)
        p = final_plan_string(df)
        joins = sorted(set(re.findall(
            r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"
            r"|BroadcastNestedLoopJoin|CartesianProduct)", p)))
        want_joins, want_x = expected[name]
        assert "CartesianProduct" not in joins, f"{name}: cartesian ran"
        assert "BatchEvalPython" not in p, f"{name}: row-at-a-time python ran"
        assert joins == want_joins, (
            f"{name}: AQE-final joins {joins} != pinned {want_joins}"
        )
        got_x = final_exchange_count(p)
        assert got_x == want_x, (
            f"{name}: AQE-final shuffle exchanges {got_x} != pinned {want_x}"
        )
