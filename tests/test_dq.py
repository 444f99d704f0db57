"""Data-quality layer: the validate/profile/orphan_rows APIs must count
injected defects exactly, and the clean fixture tables must pass their
registered suites (the queries themselves are oracle-checked in the
contract gate; these tests prove the APIs *detect*, not just run)."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_iceberg_automation_spark.operators.dq import (
    Rule,
    orphan_rows,
    profile,
    validate,
)
from aws_iceberg_automation_spark.registry import all_specs
from tests.conftest import SF_DIR

SPECS = all_specs()


def _dirty(spark):
    return spark.createDataFrame(
        [
            (1, 10.0, "A"),
            (2, -3.0, "A"),  # negative value
            (3, None, "B"),  # NULL value -> rule NULL -> violation
            (4, 7.0, "X"),  # out-of-domain flag
            (4, 2.0, "B"),  # duplicate id
        ],
        "id bigint, val double, flag string",
    )


def test_validate_counts_violations_and_null_is_violation(spark):
    report = validate(
        _dirty(spark),
        [
            Rule("val_non_negative", F.col("val") >= 0),
            Rule("flag_in_domain", F.col("flag").isin("A", "B")),
            Rule("id_positive", F.col("id") > 0),
        ],
    )
    got = {r.rule: (r.n_violations, r.passed) for r in report.collect()}
    # val >= 0 is NULL on row 3 — three-valued logic must count it
    assert got["val_non_negative"] == (2, False)
    assert got["flag_in_domain"] == (1, False)
    assert got["id_positive"] == (0, True)


def test_validate_is_single_scan(spark):
    """The whole rule suite must compile to one aggregate — no
    per-rule jobs, no extra shuffles beyond the single 1-row reduce."""
    report = validate(
        _dirty(spark), [Rule(f"r{i}", F.col("val") > i) for i in range(10)]
    )
    plan = report._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") <= 2  # partial + final, once


def test_profile_metrics(spark):
    prof = profile(
        _dirty(spark),
        {
            "val": F.col("val").cast("decimal(10,2)"),
            "flag": F.col("flag"),
        },
    )
    got = {r.col_name: r for r in prof.collect()}
    assert got["val"].n_nulls == 1
    assert got["val"].n_distinct == 4  # NULL excluded
    assert got["val"].min_val == "-3.00"
    assert got["val"].max_val == "10.00"
    assert got["flag"].n_nulls == 0
    assert got["flag"].n_distinct == 3


def test_orphan_rows_excludes_null_fks(spark):
    child = spark.createDataFrame(
        [(1, 10), (2, 99), (3, None), (4, 20)], "id bigint, fk int"
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk int")
    orphans = orphan_rows(child, parent, "fk", "pk")
    assert [r.id for r in orphans.orderBy("id").collect()] == [2]


def test_cli_dq_check(spark, tmp_path, capsys):
    import json

    from aws_iceberg_automation_spark.cli import main

    data = tmp_path / "t.parquet"
    _dirty(spark).write.parquet(str(data))
    rules = tmp_path / "rules.yml"
    rules.write_text(
        "rules:\n"
        "  - name: val_non_negative\n"
        "    expr: val >= 0\n"
        "  - name: id_positive\n"
        "    expr: id > 0\n"
    )
    assert main(["dq-check", str(data), str(rules)]) == 1  # violations exist
    out = json.loads(capsys.readouterr().out)
    got = {r["rule"]: (r["n_violations"], r["passed"]) for r in out["report"]}
    assert got == {"val_non_negative": (2, False), "id_positive": (0, True)}

    clean_rules = tmp_path / "clean.yml"
    clean_rules.write_text("rules:\n  - name: id_positive\n    expr: id > 0\n")
    assert main(["dq-check", str(data), str(clean_rules)]) == 0


def test_table_diff_statuses_and_null_keys(spark):
    from aws_iceberg_automation_spark.operators.dq import table_diff

    a = spark.createDataFrame(
        [(1, "x"), (2, "y"), (None, "n"), (4, "same")], "k int, v string"
    )
    b = spark.createDataFrame(
        [(1, "x"), (2, "CHANGED"), (None, "n"), (5, "new")], "k int, v string"
    )
    got = {(r.k, r.status) for r in table_diff(a, b, keys=["k"]).collect()}
    assert got == {
        (1, "equal"),
        (2, "mismatch"),
        (None, "equal"),  # null-safe key join: NULL keys pair up
        (4, "only_a"),
        (5, "only_b"),
    }


def test_observe_rules_counts_during_consuming_job(spark, tmp_path):
    """observe_rules must report rule violations measured by the SAME
    job that consumes the frame (here: a parquet write) — no second
    scan — and match what validate() computes with one."""
    from pyspark.sql import Observation

    from aws_iceberg_automation_spark.operators.dq import (
        Rule,
        observe_rules,
        validate,
    )

    df = spark.range(100).select(
        F.col("id"),
        F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id")).alias("v"),
    )
    rules = [
        Rule("v_not_null", F.col("v").isNotNull()),
        Rule("id_lt_90", F.col("id") < 90),
    ]
    obs = Observation("dq")
    observed = observe_rules(df, rules, obs)
    observed.write.mode("overwrite").parquet(str(tmp_path / "out"))

    got = obs.get
    assert got["n_rows"] == 100
    assert got["v_not_null"] == 10  # ids 0,10,...,90
    assert got["id_lt_90"] == 10  # ids 90..99
    expected = {
        r.rule: r.n_violations for r in validate(df, rules).collect()
    }
    assert {k: got[k] for k in expected} == expected


def test_k_anonymity_flags_small_classes(spark):
    """Classes under k=3 must be flagged not-anonymous; shares must
    partition the corpus; and the flag must be exactly n_rows >= 3."""
    pdf = SPECS["q181_k_anonymity"].fn(spark, SF_DIR).toPandas()
    assert abs(pdf["share"].sum() - 1.0) < 1e-3
    assert ((pdf["n_rows"] >= 3) == pdf["k_anonymous"]).all()
    assert (~pdf["k_anonymous"]).any()  # fixture has singleton classes


def test_row_provenance_reconciles_with_table(spark):
    """Per-file row counts must total the table and name the actual
    fixture file; id ranges must bracket every doc."""
    rows = SPECS["q182_row_provenance"].fn(spark, SF_DIR).collect()
    assert sum(r.n_rows for r in rows) == 500
    assert all(r.file_name.endswith(".parquet") for r in rows)
    assert min(r.min_doc_id for r in rows) == 0
    assert max(r.max_doc_id for r in rows) == 499


def test_ks_statistic_detects_shifted_distribution(spark):
    """KS on two same-distribution fixture sources should sit below the
    fixture's own D; a deliberately shifted copy must reject H0 with a
    larger D than the original pair."""
    import aws_iceberg_automation_spark.operators.dq as dqmod
    from aws_iceberg_automation_spark.io import load_table

    base = SPECS["q189_ks_statistic"].fn(spark, SF_DIR).collect()[0]
    assert 0.0 <= base.ks_d <= 1.0 and base.n_a > 0 and base.n_b > 0

    d = load_table(spark, SF_DIR, "documents")
    # shift src1's score by doubling its text length signal
    shifted_src = d.withColumn(
        "text",
        F.when(
            F.col("source") == "src1", F.concat(F.col("text"), F.col("text"))
        ).otherwise(F.col("text")),
    )
    orig = dqmod.load_table
    try:
        dqmod.load_table = (
            lambda s, dd, t: shifted_src if t == "documents" else orig(s, dd, t)
        )
        shifted = SPECS["q189_ks_statistic"].fn(spark, SF_DIR).collect()[0]
    finally:
        dqmod.load_table = orig
    assert shifted.ks_d > base.ks_d
    assert shifted.reject_h0


def test_weighted_percentile_matches_brute_force(spark):
    """q200's cumulative-threshold weighted percentiles re-derived by a
    brute in-memory reference on the fixture: sort each flag's
    (discount, revenue) pairs, walk the cumulative revenue, and take
    the first discount crossing 50%/90% of the total — must equal the
    engine's answer exactly (all arithmetic is exact decimal)."""
    from collections import defaultdict
    from decimal import Decimal

    from aws_iceberg_automation_spark.io import load_table
    from aws_iceberg_automation_spark.registry import all_specs
    from tests.conftest import SF_DIR

    got = {
        r.l_returnflag: (r.wmedian_discount, r.wp90_discount)
        for r in all_specs()["q200_weighted_percentile"]
        .fn(spark, SF_DIR)
        .collect()
    }
    li = load_table(spark, SF_DIR, "lineitem").select(
        "l_returnflag", "l_discount", "l_extendedprice"
    ).collect()
    rev = defaultdict(lambda: defaultdict(Decimal))
    for r in li:
        price = Decimal(str(r.l_extendedprice)).quantize(Decimal("0.01"))
        disc = Decimal(str(r.l_discount)).quantize(Decimal("0.0001"))
        rev[r.l_returnflag][r.l_discount] += price * (1 - disc)
    for flag, by_disc in rev.items():
        total = sum(by_disc.values())
        cum = Decimal(0)
        med = p90 = None
        for d in sorted(by_disc):
            cum += by_disc[d]
            if med is None and 2 * cum >= total:
                med = d
            if p90 is None and 10 * cum >= 9 * total:
                p90 = d
        assert got[flag] == (med, p90), (flag, got[flag], (med, p90))


def test_chi2_independence_matches_brute_force(spark):
    """q204's chi-square and Cramér's V re-derived in plain Python from
    the collected contingency table — validates the broadcast-marginal
    SQL algebra against the textbook formula."""
    from collections import Counter

    from aws_iceberg_automation_spark.io import load_table
    from aws_iceberg_automation_spark.registry import all_specs
    from tests.conftest import SF_DIR

    row = (
        all_specs()["q204_chi2_independence"].fn(spark, SF_DIR).collect()[0]
    )
    obs = Counter(
        (r.lang, r.source)
        for r in load_table(spark, SF_DIR, "documents")
        .select("lang", "source")
        .collect()
    )
    rt = Counter()
    ct = Counter()
    for (lg, src), n in obs.items():
        rt[lg] += n
        ct[src] += n
    total = sum(obs.values())
    # full marginal grid — zero-observed combinations contribute e
    chi2 = sum(
        (obs.get((lg, src), 0) - rt[lg] * ct[src] / total) ** 2
        / (rt[lg] * ct[src] / total)
        for lg in rt
        for src in ct
    )
    dof = (len(rt) - 1) * (len(ct) - 1)
    v = (round(chi2, 4) / (total * min(len(rt) - 1, len(ct) - 1))) ** 0.5
    assert row.dof == dof
    assert abs(row.chi2 - chi2) < 1e-3
    assert abs(row.cramers_v - v) < 1e-5


def test_mad_outliers_zero_mad_and_known_fence(spark, tmp_path):
    """q215 on two hand-built priorities: DEGEN is 4×10 + one 1000 —
    MAD is 0, so the guard must yield ZERO outliers (never divide or
    flag on a degenerate scale); SPREAD is 10/20/30/40/1000 — MAD 1000
    cents, fence 4447.8, exactly one outlier."""
    import datetime

    from aws_iceberg_automation_spark.io import SCHEMAS

    rows = []
    for i, v in enumerate([10.0, 10.0, 10.0, 10.0, 1000.0], 1):
        rows.append((i, 1, "O", v, datetime.datetime(1995, 1, 1), "DEGEN"))
    for i, v in enumerate([10.0, 20.0, 30.0, 40.0, 1000.0], 10):
        rows.append((i, 1, "O", v, datetime.datetime(1995, 1, 1), "SPREAD"))
    spark.createDataFrame(rows, SCHEMAS["orders"]).write.parquet(
        str(tmp_path / "orders.parquet")
    )
    out = {
        r.priority: r
        for r in all_specs()["q215_mad_outliers"].fn(spark, str(tmp_path)).collect()
    }
    assert out["DEGEN"].n_outliers == 0 and out["DEGEN"].mad_cents == 0.0
    assert out["SPREAD"].median_cents == 3000.0
    assert out["SPREAD"].mad_cents == 1000.0
    assert out["SPREAD"].n_outliers == 1
    assert abs(out["SPREAD"].outlier_rate - 0.2) < 1e-9


def test_bootstrap_ci_degenerate_constant_metric(spark, tmp_path):
    """q222 on a corpus where every doc has n_chars = 100: every
    bootstrap replica mean is exactly 100, so the CI collapses to
    [100, 100] — validates the hash-weighted resampling never bends a
    constant (weights cancel in the ratio)."""
    from aws_iceberg_automation_spark.io import SCHEMAS

    docs = [(i, "x", "en", "s", 100) for i in range(1, 31)]
    spark.createDataFrame(docs, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    r = all_specs()["q222_bootstrap_ci"].fn(spark, str(tmp_path)).collect()[0]
    assert r.n_docs == 30 and r.mean_n_chars == 100.0
    assert r.boot_mean == 100.0
    assert r.ci_low == 100.0 and r.ci_high == 100.0
    assert r.n_replicas == 200


def test_join_skew_audit_known_hot_key(spark, tmp_path):
    """q223 on counts {k1: 8, k2: 1, k3: 1}: skew_ratio = max/mean =
    8·3/10 = 2.4 and the hot key leads with share 0.8."""
    import datetime

    from aws_iceberg_automation_spark.io import SCHEMAS

    rows = []
    for i, sk in enumerate([1] * 8 + [2, 3], 1):
        rows.append(
            (i, 1, sk, 1, 1.0, 1.0, 0.0, 0.0, "N", "O",
             datetime.datetime(1995, 1, 1))
        )
    spark.createDataFrame(rows, SCHEMAS["lineitem"]).write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    out = {r.rk: r for r in all_specs()["q223_join_skew_audit"].fn(
        spark, str(tmp_path)).collect()}
    assert len(out) == 3
    assert out[1].key == 1 and out[1].cnt == 8
    assert abs(out[1].row_share - 0.8) < 1e-12
    assert abs(out[1].skew_ratio - 2.4) < 1e-12
    assert out[1].p50_cnt == 1.0
