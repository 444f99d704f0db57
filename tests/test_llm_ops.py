"""Invariant tests for operators without a SQL oracle (SURVEY §5.2):
near-dup pipelines must *find* injected duplicates, ANN must recall
exact neighbors, approx sketches must land near exact, multimodal
plumbing must preserve rows deterministically."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_iceberg_automation_spark.io import load_table
from aws_iceberg_automation_spark.operators.dedup import (
    connected_components,
    minhash_candidate_pairs,
)
from aws_iceberg_automation_spark.registry import all_specs
from tests.conftest import SF_DIR

SPECS = all_specs()


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    """Corpus + controlled near-duplicates: copies of docs 0-9 with the
    first two words dropped (high but not total shingle overlap)."""
    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    dups = (
        d.filter(F.col("doc_id") < 10)
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.expr("concat_ws(' ', slice(split(text, ' '), 3, 10000))").alias("text"),
        )
    )
    return d.unionByName(dups)


def test_minhash_lsh_finds_injected_neardups(docs_with_dups):
    """The sketch hash family (portable md5 base hashes + universal
    permutations) must detect the injected near-dups — the pytest proof
    of LSH recall on this corpus (its fixture-level correctness is
    separately driver-hash-checked via q82)."""
    pairs = minhash_candidate_pairs(docs_with_dups, threshold=0.5).collect()
    found = {(r.doc_id_a, r.doc_id_b) for r in pairs}
    expected = {(i, i + 100000) for i in range(10)}
    missing = expected - found
    assert len(missing) <= 2, f"LSH missed too many injected near-dups: {missing}"
    for r in pairs:
        assert 0.0 <= r.jaccard <= 1.0


def test_lsh_bucket_cap_bounds_boilerplate_blowup(spark, docs_with_dups):
    """Adversarial boilerplate corpus: 1000 near-identical docs all land
    in the same LSH buckets. Uncapped, the bucket self-join is C(1000,2)
    ≈ 500k candidate pairs per band; with bucket_cap=8 the salting must
    bound distinct candidates near 1000·cap/2·bands, while (a) nearly
    every boilerplate doc still pairs with a co-member (transitive
    closure then merges the cluster) and (b) injected near-dups living
    in normal-size buckets are untouched by the cap."""
    base = " ".join(f"w{i}" for i in range(50))
    boiler = spark.range(200000, 201000).select(
        F.col("id").alias("doc_id"),
        # one word mutated per doc → pairwise jaccard stays high
        F.concat_ws(
            " ",
            F.lit(base),
            F.concat(F.lit("tail"), (F.col("id") % 3).cast("string")),
        ).alias("text"),
    )
    corpus = docs_with_dups.unionByName(boiler)
    pairs = minhash_candidate_pairs(corpus, threshold=0.5, bucket_cap=8)
    rows = pairs.collect()
    boiler_pairs = [
        r for r in rows if r.doc_id_a >= 200000 and r.doc_id_b >= 200000
    ]
    # blowup bound: uncapped would exceed 400k boilerplate pairs
    assert 0 < len(boiler_pairs) < 100_000, len(boiler_pairs)
    # coverage: ≥95% of boilerplate docs appear in some verified pair
    covered = {r.doc_id_a for r in boiler_pairs} | {
        r.doc_id_b for r in boiler_pairs
    }
    assert len(covered) >= 950, len(covered)
    # normal buckets unaffected: the 10 injected near-dups still surface
    found = {(r.doc_id_a, r.doc_id_b) for r in rows}
    expected = {(i, i + 100000) for i in range(10)}
    assert len(expected - found) <= 2, expected - found


def test_connected_components_groups_dups(spark, docs_with_dups):
    pairs = minhash_candidate_pairs(docs_with_dups, threshold=0.5)
    comp = connected_components(pairs).collect()
    labels = {r.doc_id: r.component_id for r in comp}
    for i in range(10):
        if i in labels and i + 100000 in labels:
            assert labels[i] == labels[i + 100000] == min(i, labels[i])


def test_simhash_identical_and_near(spark, docs_with_dups):
    fn = SPECS["q82c_simhash"].fn
    base = {r.doc_id: r.simhash for r in fn(spark, SF_DIR).collect()}
    # determinism: same input → same signature
    again = {r.doc_id: r.simhash for r in fn(spark, SF_DIR).collect()}
    assert base == again
    # near-duplicate texts → small Hamming distance
    d = docs_with_dups
    d.createOrReplaceTempView("_simhash_docs")
    from aws_iceberg_automation_spark.operators import dedup  # noqa: F401

    sim = (
        d.select(
            "doc_id",
            F.expr(
                """
aggregate(
  zip_with(
    transform(sequence(0, 63),
      b -> aggregate(transform(array_distinct(split(text, ' ')), t -> xxhash64(t)),
                     0,
                     (acc, h) -> acc + IF(shiftright(h, b) & 1 = 1, 1, -1))),
    sequence(0, 63),
    (v, b) -> IF(v > 0, shiftleft(CAST(1 AS BIGINT), b), CAST(0 AS BIGINT))),
  CAST(0 AS BIGINT),
  (acc, x) -> acc | x)
"""
            ).alias("simhash"),
        )
        .collect()
    )
    sh = {r.doc_id: r.simhash for r in sim}
    hammings = [bin(sh[i] ^ sh[i + 100000]).count("1") for i in range(10)]
    assert sum(h <= 16 for h in hammings) >= 8, f"simhash hammings too large: {hammings}"


def test_vectorized_topk_matches_exact(spark):
    """The numpy matmul path must produce the same neighbor sets as the
    fold-based exact query (cosine values may differ in the last ulp;
    neighbor identity at top-5 must not)."""
    exact = SPECS["q83_cosine_topk_exact"].fn(spark, SF_DIR).collect()
    fast = SPECS["q83e_topk_vectorized"].fn(spark, SF_DIR).collect()
    es, fs = {}, {}
    for r in exact:
        es.setdefault(r.q_id, set()).add(r.neighbor_id)
    for r in fast:
        fs.setdefault(r.q_id, set()).add(r.neighbor_id)
    assert es == fs


def test_spherical_kmeans_improves_objective(spark):
    """Lloyd iterations must improve the spherical objective (mean
    cosine of each vector to its assigned centroid) over the raw seed
    centroids, keep ≤ k unit-norm centroids, and stay deterministic in
    cluster count."""
    import math

    from aws_iceberg_automation_spark.operators.similarity import (
        spherical_kmeans,
    )

    e = (
        load_table(spark, SF_DIR, "embeddings")
        .select("vec_id", F.col("embedding").alias("v"))
    )

    def objective(cent):
        from aws_iceberg_automation_spark.functions.vectors import cosine

        best = (
            e.join(F.broadcast(cent))
            .withColumn("_sim", cosine(F.col("v"), F.col("cv")))
            .groupBy("vec_id")
            .agg(F.max("_sim").alias("best"))
        )
        return best.agg(F.avg("best")).collect()[0][0]

    seed = spherical_kmeans(e, "v", k=16, max_iter=0)
    fitted = spherical_kmeans(e, "v", k=16, max_iter=3)
    assert objective(fitted) >= objective(seed) - 1e-9
    rows = fitted.collect()
    assert 1 <= len(rows) <= 16
    for r in rows:
        norm = math.sqrt(sum(x * x for x in r.cv))
        assert abs(norm - 1.0) < 1e-6


@pytest.mark.parametrize(
    ("ann", "floor"),
    [
        # SRP-LSH tuned to a hard recall target even on the fixtures'
        # near-orthogonal (worst-case) geometry: 3 planes × 8 tables
        # ⇒ expected ≈ 0.87 (similarity.py docstring)
        ("q83b_ann_lsh_topk", 0.8),
        # IVF with the deterministic stand-in quantizer + nprobe=3:
        # plan-shape demo, recall floor is a collapse guard
        ("q83d_ann_ivf_topk", 0.25),
        # PQ-ADC with exact re-rank of the top-4k shortlist: the
        # re-rank restores exact ordering, so recall = shortlist hit
        # rate — high even with 4-bit codes
        ("q172_pq_adc_topk", 0.8),
    ],
)
def test_ann_recall_vs_exact(spark, ann, floor):
    exact = SPECS["q83_cosine_topk_exact"].fn(spark, SF_DIR).collect()
    approx = SPECS[ann].fn(spark, SF_DIR).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.q_id, set()).add(r.neighbor_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.q_id, set()).add(r.neighbor_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    mean = sum(recalls) / len(recalls)
    assert mean >= floor, f"ANN recall {mean:.2f} < {floor}: {recalls}"
    # every query finds *something* and never itself
    for q, ns in approx_sets.items():
        assert q not in ns


def test_pq_adc_deterministic_and_exactly_k(spark):
    """PQ-ADC must be run-to-run deterministic (codebook init, Lloyd,
    argmin ties, shortlist cut and re-rank all have fixed tiebreaks)
    and deliver exactly k neighbors per query with exact re-ranked
    cosines (descending per query)."""
    fn = SPECS["q172_pq_adc_topk"].fn
    a = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    b = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    assert a == b
    per_q = {}
    for r in fn(spark, SF_DIR).collect():
        per_q.setdefault(r.q_id, []).append((r.rk, r.cosine))
    for q, rows in per_q.items():
        rows.sort()
        assert [rk for rk, _ in rows] == [1, 2, 3, 4, 5]
        cosines = [c for _, c in rows]
        assert cosines == sorted(cosines, reverse=True)


def test_stratified_sample_rates(spark):
    """q96b now surfaces the per-stratum census directly (round-6
    oracle conversion): exact totals + the 5σ rate-bound boolean."""
    totals = {
        r.lang: r["count"]
        for r in load_table(spark, SF_DIR, "documents").groupBy("lang").count().collect()
    }
    rows = SPECS["q96b_stratified_sample"].fn(spark, SF_DIR).collect()
    assert rows, "no strata reported"
    for r in rows:
        assert r.rate_ok, f"{r.lang}: sampled rate outside the 5σ bound"
        assert r.n_total == totals[r.lang]


def test_approx_count_distinct_close(spark):
    # raw ≤5% error bound (tighter than q41's surfaced 15% gate, which
    # now feeds the DuckDB oracle as a stable boolean)
    rows = (
        load_table(spark, SF_DIR, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
            F.countDistinct("l_partkey").alias("exact_parts"),
        )
        .collect()
    )
    for r in rows:
        assert abs(r.approx_parts - r.exact_parts) <= max(0.05 * r.exact_parts, 2)
    gate = SPECS["q41_approx_count_distinct"].fn(spark, SF_DIR).collect()
    assert gate and all(r.within_rsd for r in gate)


def test_decode_features_plumbing(spark):
    fn = SPECS["q84b_decode_features"].fn
    out = fn(spark, SF_DIR).collect()
    n_docs = load_table(spark, SF_DIR, "documents").count()
    assert len(out) == n_docs  # row-preserving map
    # features surface as a CSV string (driver-canonicalizer-safe);
    # still an 8-dim vector underneath
    assert all(len(r.features.split(",")) == 8 for r in out)
    assert all(1 <= r.width <= 64 and 1 <= r.height <= 48 for r in out)
    # determinism
    again = fn(spark, SF_DIR).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_resize_thumbnails(spark):
    out = SPECS["q84d_resize_thumbnails"].fn(spark, SF_DIR).collect()
    n_docs = load_table(spark, SF_DIR, "documents").count()
    assert len(out) == n_docs
    assert all(r.thumb_bytes <= 16 and r.thumb_bytes >= 1 for r in out)
    assert all(r.orig_bytes >= r.thumb_bytes for r in out)
    again = SPECS["q84d_resize_thumbnails"].fn(spark, SF_DIR).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_percentile_sketch_error_bounded(spark):
    # raw ≤2% error bound (tighter than q42b's surfaced 5% gate, which
    # now feeds the DuckDB oracle as a stable boolean)
    rows = (
        load_table(spark, SF_DIR, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p50_sketch"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50_exact"),
        )
        .collect()
    )
    for r in rows:
        assert abs(r.p50_sketch - r.p50_exact) <= 0.02 * abs(r.p50_exact)
    gate = SPECS["q42b_percentile_sketch"].fn(spark, SF_DIR).collect()
    assert gate and all(r.sketch_within_eps for r in gate)


def test_frame_sampling_expansion(spark):
    out = SPECS["q84c_frame_sampling"].fn(spark, SF_DIR)
    per_doc = out.groupBy("doc_id").count().collect()
    docs = {
        r.doc_id: r.n_chars
        for r in load_table(spark, SF_DIR, "documents").select("doc_id", "n_chars").collect()
    }
    for r in per_doc:
        assert r["count"] == max(docs[r.doc_id] * 10 // 1000, 1)


def test_freq_items_superset_of_exact_top_terms(spark):
    """freqItems guarantees every term above the support threshold
    appears in its output — q85g now surfaces that audit directly
    (round-6 oracle conversion): superset_ok must hold and the
    truly-frequent census must be non-trivial on this corpus."""
    row = SPECS["q85g_freq_terms_sketch"].fn(spark, SF_DIR).collect()[0]
    assert row.superset_ok
    assert row.n_true_frequent > 0


def test_set_similarity_join_no_false_negatives(spark):
    """Prefix-filtered join must equal exact all-pairs at several
    thresholds on adversarial sets (shared hot tokens, tiny sets,
    identical sets across sides)."""
    from aws_iceberg_automation_spark.operators.dedup import (
        jaccard,
        set_similarity_join,
    )

    def sets(side):
        base = [
            (0, ["the", "a", "of", "x0"]),
            (1, ["the", "a", "of", "x1"]),
            (2, ["unique2", "only2"]),
            (3, ["the", "a", "of", "x0"]),  # identical to 0
            (4, ["q", "w", "e", "r", "t", "y"]),
            (5, ["q", "w", "e", "r", "t", "z"]),
            (6, ["solo"]),
        ]
        return spark.createDataFrame(base, "id long, tokens array<string>")

    left, right = sets("l"), sets("r")
    for t in (0.5, 0.8, 1.0):
        got = {
            (r.lid, r.rid)
            for r in set_similarity_join(left, right, t).collect()
        }
        exact = {
            (r.lid, r.rid)
            for r in left.selectExpr("id AS lid", "tokens AS lset")
            .crossJoin(right.selectExpr("id AS rid", "tokens AS rset"))
            .filter(jaccard(F.col("lset"), F.col("rset")) >= t)
            .collect()
        }
        assert got == exact, (t, got ^ exact)


def test_incremental_neardup_catches_corpus_dups(spark):
    """Incremental-crawl contract: a batch containing near-copies of
    indexed corpus docs plus genuinely novel docs — the index join must
    flag the copies (right corpus match, jaccard ≥ threshold) and pass
    the novel docs through with is_dup=0."""
    from aws_iceberg_automation_spark.operators.dedup import (
        build_lsh_index,
        incremental_neardup,
    )

    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") < 300)
    # batch: near-copies of corpus docs 0-9 (first two words dropped)
    # + 20 untouched docs from outside the corpus (novel vs index).
    near_copies = corpus.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.expr("concat_ws(' ', slice(split(text, ' '), 3, 10000))").alias("text"),
    )
    novel = d.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 320))
    batch = near_copies.unionByName(novel)

    idx = build_lsh_index(corpus)
    out = incremental_neardup(idx, corpus, batch).collect()
    by_id = {r.new_doc_id: r for r in out}
    assert len(by_id) == 30  # one verdict row per batch doc

    flagged = {i for i, r in by_id.items() if r.is_dup == 1}
    expected = {i + 500000 for i in range(10)}
    missed = expected - flagged
    assert len(missed) <= 2, f"index join missed injected dups: {missed}"
    # the catches must point at the right corpus doc
    for i in expected & flagged:
        assert by_id[i].corpus_doc_id == i - 500000
        assert by_id[i].jaccard >= 0.5
    # novel docs stay novel (corpus word-soup can collide rarely; allow 2)
    false_pos = flagged - expected
    assert len(false_pos) <= 2, f"novel docs wrongly flagged: {false_pos}"


def test_phash_neardup_catches_corrupted_payloads(spark):
    """Byte-level corrupted copies of a payload must land within
    hamming ≤ 6 of the original and be caught by the banded pairing;
    structurally different payloads must not collide."""
    import random

    from aws_iceberg_automation_spark.operators.multimodal import phash_pairs

    rng = random.Random(7)
    originals = {
        i: bytes(rng.randrange(256) for _ in range(2048)) for i in range(20)
    }
    rows = [(i, p) for i, p in originals.items()]
    for i in range(10):  # corrupt ~1% of bytes of docs 0-9
        corrupted = bytearray(originals[i])
        for _ in range(8):
            pos = rng.randrange(len(corrupted))
            corrupted[pos] ^= 0xFF
        rows.append((i + 1000, bytes(corrupted)))
    docs = spark.createDataFrame(rows, "doc_id long, payload binary")
    pairs = {(r.doc_id_a, r.doc_id_b): r.hamming for r in phash_pairs(docs).collect()}
    expected = {(i, i + 1000) for i in range(10)}
    missing = expected - set(pairs)
    assert len(missing) <= 2, f"phash missed corrupted copies: {missing}"
    # independent random payloads must not register as near-dups
    false_pairs = {k for k in pairs if k not in expected}
    assert len(false_pairs) <= 1, f"unrelated payloads collided: {false_pairs}"


def test_quality_aware_dedup_keeps_best_member(spark):
    """Inject a dup cluster where the LOW-id member is the damaged copy:
    the min-id rule would keep the bad one; the quality rule must keep
    the diverse one regardless of id order."""
    from aws_iceberg_automation_spark.operators import dedup  # noqa: F401
    from aws_iceberg_automation_spark.registry import all_specs

    rows = [
        # doc 1: degenerate (one word repeated), doc 2: diverse — same
        # cluster would need identical normalized text, so give them
        # identical text but different ids to form the cluster, and a
        # separate diverse singleton to check scoring end-to-end.
        (1, "spam spam spam spam"),
        (2, "spam spam spam spam"),
        (3, "alpha beta gamma delta"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    # run the same expressions as q145 directly on the tiny frame
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    tokens = F.split("text", " ")
    score = F.round(
        F.size(F.array_distinct(tokens)).cast("double") / F.size(tokens), 6
    )
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    scored = df.select(
        "doc_id", F.md5(norm).alias("cluster_hash"), score.alias("score")
    )
    ordered = Window.partitionBy("cluster_hash").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    kept = {
        r.doc_id: r.n
        for r in scored.withColumn("rk", F.row_number().over(ordered))
        .withColumn(
            "n", F.count(F.lit(1)).over(Window.partitionBy("cluster_hash"))
        )
        .filter(F.col("rk") == 1)
        .collect()
    }
    # identical texts tie on score -> doc_id tiebreak keeps 1 (cluster of 2);
    # the diverse singleton survives on its own
    assert kept == {1: 2, 3: 1}

    # and with distinct scores in one cluster, the higher-score doc wins
    df2 = spark.createDataFrame(
        [(10, "a b c d e"), (11, "a a a a a")], "doc_id bigint, text string"
    )
    s2 = df2.select(
        "doc_id", F.lit("k").alias("cluster_hash"), score.alias("score")
    )
    win = (
        s2.withColumn("rk", F.row_number().over(ordered))
        .filter(F.col("rk") == 1)
        .collect()
    )
    assert [r.doc_id for r in win] == [10]  # diverse doc beats repeated one


def test_rolling_distinct_sketch_error_bound(spark):
    """q149's sketch-union rolling estimates must sit within 5% of the
    exact rolling distinct count — supplied by q197, the registered
    (and DuckDB-oracle-gated) exact counterpart with the identical
    window definition — and each hour must merge at most 6 sketches."""
    got = {
        r.win_end: (r.exact_distinct_users, r.n_merged_sketches, r.within_bound)
        for r in SPECS["q149_rolling_distinct_sketch"].fn(spark, SF_DIR).collect()
    }
    exact = {
        r.win_end: r.exact_distinct_users
        for r in SPECS["q197_rolling_distinct_exact"].fn(spark, SF_DIR).collect()
    }
    assert set(got) == set(exact)
    for w, (ex, nsk, ok) in got.items():
        assert 1 <= nsk <= 6
        assert ex == exact[w]  # q149's exact side == q197's
        assert ok, f"{w}: sketch estimate outside the 5% bound"


def test_dup_span_coverage_flags_exact_copy(spark):
    """An injected verbatim copy must score 1.0 coverage on both the
    copy and its source; a doc of globally-unique words must score 0."""
    from aws_iceberg_automation_spark.operators.dedup import dup_span_coverage

    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    copy = d.filter(F.col("doc_id") == 0).select(
        F.lit(300000).cast("long").alias("doc_id"), "text"
    )
    unique = spark.range(1).select(
        F.lit(300001).cast("long").alias("doc_id"),
        F.lit(" ".join(f"zqx{i}" for i in range(20))).alias("text"),
    )
    cov = {
        r.doc_id: r
        for r in dup_span_coverage(d.unionByName(copy).unionByName(unique))
        .filter(F.col("doc_id").isin(0, 300000, 300001))
        .collect()
    }
    assert cov[0].dup_coverage == 1.0
    assert cov[300000].dup_coverage == 1.0
    assert cov[300001].dup_coverage == 0.0
    # a 20-word doc has 13 distinct 8-shingles at most
    assert cov[300001].n_shingles == 13


def test_dup_span_coverage_drops_short_docs(spark):
    """Docs under the span width produce no shingles and no output row
    (and must not crash Spark's descending-sequence edge)."""
    from aws_iceberg_automation_spark.operators.dedup import dup_span_coverage

    d = spark.createDataFrame(
        [(1, "too short to shingle"), (2, " ".join(f"w{i}" for i in range(9)))],
        "doc_id long, text string",
    )
    rows = dup_span_coverage(d).collect()
    assert {r.doc_id for r in rows} == {2}
    assert rows[0].n_shingles == 2


def test_span_dedup_clean_removes_copy_keeps_canonical(spark):
    """A verbatim copy of doc 0 must be fully scrubbed (every token sits
    in a duplicated span whose canonical occurrence lives in doc 0),
    while doc 0 itself — the min-(doc_id, start) owner of every one of
    those spans — must keep its text verbatim. A globally-unique doc is
    untouched."""
    from aws_iceberg_automation_spark.operators.dedup import span_dedup_clean

    base = spark.createDataFrame(
        [
            (0, " ".join(f"alpha{i}" for i in range(16))),
            (7, " ".join(f"beta{i}" for i in range(16))),
        ],
        "doc_id long, text string",
    )
    copy = base.filter(F.col("doc_id") == 0).select(
        F.lit(9000).cast("long").alias("doc_id"), "text"
    )
    out = {
        r.doc_id: r for r in span_dedup_clean(base.unionByName(copy)).collect()
    }
    src = base.filter(F.col("doc_id") == 0).collect()[0].text
    assert out[0].n_removed == 0 and out[0].cleaned_text == src
    assert out[9000].n_removed == 16 and out[9000].cleaned_text == ""
    assert out[7].n_removed == 0 and out[7].cleaned_text.startswith("beta0 ")


def test_span_dedup_clean_partial_overlap_and_short_docs(spark):
    """A doc sharing only an 8-token prefix with the canonical doc loses
    exactly those 8 tokens and keeps its unique tail in order; docs
    under the span width pass through whole."""
    from aws_iceberg_automation_spark.operators.dedup import span_dedup_clean

    shared = " ".join(f"s{i}" for i in range(8))
    d = spark.createDataFrame(
        [
            (1, shared + " " + " ".join(f"left{i}" for i in range(4))),
            (2, shared + " " + " ".join(f"right{i}" for i in range(4))),
            (3, "tiny doc below span width"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in span_dedup_clean(d).collect()}
    assert out[1].n_removed == 0  # canonical owner of the shared span
    assert out[2].n_removed == 8
    assert out[2].cleaned_text == "right0 right1 right2 right3"
    assert out[3].n_removed == 0
    assert out[3].cleaned_text == "tiny doc below span width"


def test_bigram_lm_score_ranks_gibberish_worst(spark):
    """Unseen-word gibberish must receive a higher mean NLL than every
    document drawn from the corpus distribution."""
    from aws_iceberg_automation_spark.operators.text import bigram_lm_score

    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    gibberish = spark.range(1).select(
        F.lit(400000).cast("long").alias("doc_id"),
        F.lit(" ".join(f"qzx{i} vbn{i}" for i in range(30))).alias("text"),
    )
    scored = bigram_lm_score(d.unionByName(gibberish)).collect()
    gib = next(r for r in scored if r.doc_id == 400000)
    rest = [r.avg_nll for r in scored if r.doc_id != 400000]
    assert gib.avg_nll > max(rest), (
        f"gibberish NLL {gib.avg_nll} not above corpus max {max(rest)}"
    )


def test_deterministic_shuffle_balance_and_stability(spark):
    """Shard assignment must be balanced (md5 is uniform) and a pure
    function of doc_id — identical across recomputation."""
    from aws_iceberg_automation_spark.registry import all_specs

    fn = all_specs()["q162_deterministic_shuffle"].fn
    a = fn(spark, SF_DIR).collect()
    counts = {}
    for r in a:
        counts[r.shard] = counts.get(r.shard, 0) + 1
    assert set(counts) == set(range(8))
    assert max(counts.values()) <= 2 * min(counts.values()), counts
    b = {r.doc_id: (r.shard, r.shuffle_key) for r in fn(spark, SF_DIR).collect()}
    assert all(b[r.doc_id] == (r.shard, r.shuffle_key) for r in a)


def test_embedding_quantize_error_bound(spark):
    """int8 reconstruction error must respect the half-step bound
    max_abs_err <= scale/2 for every vector."""
    from aws_iceberg_automation_spark.registry import all_specs

    rows = all_specs()["q163_embedding_quantize"].fn(spark, SF_DIR).collect()
    assert len(rows) == 500
    for r in rows:
        assert r.max_abs_err <= r.quant_scale / 2 + 1e-12, r
        assert 0 <= r.mean_abs_err <= r.max_abs_err + 1e-12, r


def test_neardup_cluster_report_groups_injected_dups(spark, docs_with_dups):
    """Injected (i, i+100000) near-dup pairs must surface as clusters
    whose member list contains both ids and whose keeper is the min."""
    from aws_iceberg_automation_spark.operators.dedup import (
        connected_components,
        minhash_candidate_pairs,
    )

    comp = connected_components(minhash_candidate_pairs(docs_with_dups))
    report = comp.groupBy("component_id").agg(
        F.min("doc_id").alias("keeper"),
        F.collect_list("doc_id").alias("members"),
    ).collect()
    by_member = {}
    for r in report:
        for m in r.members:
            by_member[m] = r
    hits = 0
    for i in range(10):
        r = by_member.get(i + 100000)
        if r is not None and i in r.members:
            assert r.keeper <= i
            hits += 1
    assert hits >= 8, f"only {hits}/10 injected dup clusters intact"


def test_pmi_cooccurrence_bounds_and_perfect_collocation(spark):
    """n_ab can never exceed either doc frequency, and a hand-built
    corpus where two terms always co-occur must give them the maximal
    PMI ln(N / df)."""
    import math

    import aws_iceberg_automation_spark.operators.text as txt

    pdf = SPECS["q179_pmi_cooccurrence"].fn(spark, SF_DIR).toPandas()
    assert len(pdf) > 0

    d = spark.createDataFrame(
        [
            (1, "salt pepper bread"),
            (2, "salt pepper water"),
            (3, "bread water jam"),
            (4, "salt pepper jam"),
        ],
        "doc_id long, text string",
    )
    orig = txt.load_table
    try:
        txt.load_table = lambda s, dd, t: d if t == "documents" else orig(s, dd, t)
        rows = {
            (r.term_a, r.term_b): r
            for r in SPECS["q179_pmi_cooccurrence"].fn(spark, SF_DIR).collect()
        }
    finally:
        txt.load_table = orig
    sp = rows[("pepper", "salt")]
    assert sp.n_ab == 3
    assert abs(sp.pmi - round(math.log(3 * 4 / (3 * 3)), 6)) < 1e-9


def test_retrieval_metrics_floors_and_ranges(spark):
    """The eval harness (portable indexes since round 7) must report
    in-range metrics with sane floors: SRP-LSH (3 planes × 8 tables,
    expected ≈ 0.87 on the near-orthogonal fixture) ≥ 0.8; the
    nprobe=4/16 fixed-seed IVF is a coarse-quantizer demo — its floor
    is a collapse guard. MRR ≥ recall (the top hit survives at least
    as often as the average rank position)."""
    rows = {
        r.system: r
        for r in SPECS["q186_retrieval_metrics"].fn(spark, SF_DIR).collect()
    }
    assert set(rows) == {"srp_lsh_portable", "ivf_portable"}
    for r in rows.values():
        assert 0.0 <= r.macro_recall_at_k <= 1.0
        assert 0.0 <= r.macro_mrr <= 1.0
        assert r.n_queries == 10
        assert r.macro_mrr >= r.macro_recall_at_k
    assert rows["srp_lsh_portable"].macro_recall_at_k >= 0.8
    assert rows["ivf_portable"].macro_recall_at_k >= 0.4


def test_dedup_metrics_recall_floor(spark):
    """The dedup eval harness must find ≥ 9 truth pairs (the 10
    injected copies, LSH may drop ≤1) and report recall ≥ 0.8."""
    row = SPECS["q187_dedup_metrics"].fn(spark, SF_DIR).collect()[0]
    assert row.system == "minhash_lsh"
    assert row.n_truth_pairs >= 10  # injected pairs are ground truth
    assert row.recall is not None and row.recall >= 0.8
    assert row.n_missed == row.n_truth_pairs - round(
        row.recall * row.n_truth_pairs
    )


def test_decode_modes_tagged(spark):
    """Every decoded row is tagged with its decode path; in a codec-less
    sandbox that is uniformly 'fake', and the presence of PIL must never
    be an error (round-2 verdict: gate was inverted)."""
    from aws_iceberg_automation_spark.operators.multimodal import _HAVE_PIL

    out = SPECS["q84b_decode_features"].fn(spark, SF_DIR).select("decode_mode")
    modes = {r.decode_mode for r in out.distinct().collect()}
    assert modes <= {"pil", "fake"}
    if not _HAVE_PIL:
        assert modes == {"fake"}


def test_pil_branch_decodes_real_image():
    """PIL-present branch: a real 1-px PNG decodes via the 'pil' path
    with true dimensions (runs only where the codec exists)."""
    pytest.importorskip("PIL.Image")
    import pandas as pd

    from aws_iceberg_automation_spark.operators.multimodal import (
        decode_media_batch,
        resize_media_batch,
    )

    import PIL.Image
    import io

    buf = io.BytesIO()
    PIL.Image.new("RGB", (5, 3), (10, 20, 30)).save(buf, format="PNG")
    png = buf.getvalue()
    batch = pd.DataFrame({"doc_id": [1, 2], "payload": [png, b"not an image"]})
    (dec,) = list(decode_media_batch(iter([batch])))
    by_id = {r.doc_id: r for r in dec.itertuples()}
    assert by_id[1].decode_mode == "pil"
    assert (by_id[1].width, by_id[1].height) == (5, 3)
    assert by_id[1].channels == 3  # RGB header, counted BEFORE grayscale
    assert by_id[2].decode_mode == "fake"  # per-blob fallback, no crash
    (thumb,) = list(resize_media_batch(iter([batch])))
    trow = {r.doc_id: r for r in thumb.itertuples()}
    assert trow[1].decode_mode == "pil" and trow[1].thumb_bytes == 16
    assert trow[2].decode_mode == "fake"


def test_countmin_overestimates_never_under(spark):
    """CMS deterministic guarantee: estimate ≥ exact for EVERY probed
    term (collisions only add); error bounded on the fixture (the
    probabilistic ε·N bound, here asserted outright — a fixed-seed
    sketch over fixed data is deterministic)."""
    rows = SPECS["q193_countmin_heavy_hitters"].fn(spark, SF_DIR).collect()
    assert len(rows) == 30
    total_terms = (
        load_table(spark, SF_DIR, "documents")
        .select(F.explode(F.split("text", " ")))
        .count()
    )
    for r in rows:
        assert r.cms_estimate >= r.exact_count, r
        assert r.overcount == r.cms_estimate - r.exact_count
    # e/width * N classical bound, comfortably met at fixture scale
    eps_bound = 2.72 / 1024 * total_terms
    overs = sorted(r.overcount for r in rows)
    assert overs[len(overs) // 2] <= eps_bound
    # determinism
    again = SPECS["q193_countmin_heavy_hitters"].fn(spark, SF_DIR).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_cms_join_size_never_undercounts(spark):
    """CMS inner-product join estimate: est ≥ exact always (collision
    cross-terms are non-negative), and within a sane factor at fixture
    scale; deterministic."""
    row = SPECS["q195_cms_join_size_estimate"].fn(spark, SF_DIR).collect()[0]
    assert row.cms_join_size >= row.exact_join_size
    assert row.overestimate_ratio < 3.0, row  # 1024-wide sketch, ~7.5k keys
    again = SPECS["q195_cms_join_size_estimate"].fn(spark, SF_DIR).collect()[0]
    assert tuple(row) == tuple(again)


def test_split_leakage_detects_cross_split_neardups(spark):
    """q207 must report at least one near-dup pair CROSSING split
    boundaries on the fixture (the corpus carries genuine near-dups and
    the ~10/10/80 hash split statistically straddles them) — the
    leakage signal the audit exists for. Also sanity: the per-split doc
    counts (q206) cover every doc exactly once."""
    rows = SPECS["q207_split_leakage"].fn(spark, SF_DIR).collect()
    assert rows, "no near-dup pairs at all — fixture regression"
    cross = [r for r in rows if r.split_lo != r.split_hi]
    assert cross, "no cross-split near-dups — leakage audit is vacuous"
    manifest = SPECS["q206_split_manifest"].fn(spark, SF_DIR).collect()
    n_docs = sum(r.n_docs for r in manifest)
    total = load_table(spark, SF_DIR, "documents").count()
    assert n_docs == total
    assert {r.split for r in manifest} == {"train", "val", "test"}


def test_vocab_growth_known_curve(spark, tmp_path):
    """q216 on 4 hand-built docs (ids 1..4, max id 4 → doc i lands on
    checkpoint 5i): the cumulative doc/token/vocab curve is known
    exactly, early empty checkpoints emit zero rows with NULL β, and
    the full 20-row grid is present."""
    from aws_iceberg_automation_spark.io import SCHEMAS

    docs = [
        (1, "a b", "en", "s", 3),
        (2, "a c", "en", "s", 3),
        (3, "c d", "en", "s", 3),
        (4, "a b", "en", "s", 3),
    ]
    spark.createDataFrame(docs, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r.checkpoint: r
        for r in SPECS["q216_vocab_growth"].fn(spark, str(tmp_path)).collect()
    }
    assert set(out) == set(range(1, 21))
    assert out[4].n_docs == 0 and out[4].heaps_beta is None
    assert (out[5].n_docs, out[5].n_tokens, out[5].n_vocab) == (1, 2, 2)
    assert (out[10].n_docs, out[10].n_tokens, out[10].n_vocab) == (2, 4, 3)
    assert (out[15].n_docs, out[15].n_tokens, out[15].n_vocab) == (3, 6, 4)
    assert (out[20].n_docs, out[20].n_tokens, out[20].n_vocab) == (4, 8, 4)
    import math

    assert abs(out[20].heaps_beta - round(math.log(4) / math.log(8), 6)) < 1e-12


def test_association_rules_known_lift(spark, tmp_path):
    """q217 on 5 hand-built baskets ({1,2}×3, {1,3}, {2,3}): only the
    1↔2 pair clears min joint support 3; both rule directions emit
    confidence 0.75 and lift 3·5/(4·4) = 0.9375."""
    import datetime

    from aws_iceberg_automation_spark.io import SCHEMAS

    baskets = {1: [1, 2], 2: [1, 2], 3: [1, 2], 4: [1, 3], 5: [2, 3]}
    orders, lis = [], []
    for cust, parts in baskets.items():
        orders.append(
            (cust, cust, "O", 1.0, datetime.datetime(1995, 1, 1), "1-URGENT")
        )
        for i, p in enumerate(parts, 1):
            lis.append(
                (cust, p, 1, i, 1.0, 1.0, 0.0, 0.0, "N", "O",
                 datetime.datetime(1995, 1, 2))
            )
    spark.createDataFrame(orders, SCHEMAS["orders"]).write.parquet(
        str(tmp_path / "orders.parquet")
    )
    spark.createDataFrame(lis, SCHEMAS["lineitem"]).write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    rows = SPECS["q217_association_rules"].fn(spark, str(tmp_path)).collect()
    assert {(r.ante, r.cons) for r in rows} == {(1, 2), (2, 1)}
    for r in rows:
        assert r.n_joint == 3 and r.n_ante == 4 and r.n_cons == 4
        assert abs(r.confidence - 0.75) < 1e-12
        assert abs(r.lift - 0.9375) < 1e-12
        assert abs(r.support - 0.6) < 1e-12


def test_ndcg_exact_known_rankings(spark, tmp_path):
    """q230 on a hand-built corpus: a query whose two relevant vectors
    land at ranks 2-3 scores the exact discounted ratio; a query whose
    only relevant vector is pushed to rank 4 scores 1/log2(5)."""
    import math

    from aws_iceberg_automation_spark.io import SCHEMAS

    vecs = [
        (0, [1.0, 0.0], 7),   # query A
        (5, [1.0, 0.0], 9),   # query B (also a neighbor of A)
        (10, [2.0, 0.0], 7),  # relevant to A, cosine 1.0
        (11, [1.0, 0.1], 7),  # relevant to A, cosine ~0.995
        (12, [0.0, 5.0], 9),  # relevant to B, cosine 0 to everything else
    ]
    spark.createDataFrame(vecs, SCHEMAS["embeddings"]).write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    out = {
        r.q_id: r for r in SPECS["q230_ndcg_exact"].fn(spark, str(tmp_path)).collect()
    }
    a, b = out[0], out[5]
    # A: ties at cosine 1.0 break by neighbor_id (5 before 10), so the
    # relevant hits sit at ranks 2 and 3
    dcg_a = 1 / math.log2(3) + 1 / math.log2(4)
    idcg_a = 1 / math.log2(2) + 1 / math.log2(3)
    assert a.n_rel == 2 and a.label == 7
    assert a.dcg == round(dcg_a, 6)
    assert a.ndcg == round(round(dcg_a, 6) / idcg_a, 6) or a.ndcg == round(
        dcg_a / idcg_a, 6
    )
    # B: the sole relevant vector ranks 4th of 4
    assert b.n_rel == 1 and b.label == 9
    assert b.dcg == round(1 / math.log2(5), 6)
    assert b.ndcg == round(1 / math.log2(5), 6)
    assert all(0.0 <= r.ndcg <= 1.0 for r in out.values())


def test_mutual_information_perfect_dependence(spark, tmp_path):
    """q233 on a corpus where source determines language exactly (two
    sources × two docs each): H(source) = H(lang) = MI = 1 bit and
    NMI = 1 — the maximal-dependence fixture."""
    docs = [
        (1, "a", "en", "s1", 1),
        (2, "b", "en", "s1", 1),
        (3, "c", "fr", "s2", 1),
        (4, "d", "fr", "s2", 1),
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    spark.createDataFrame(docs, schema).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    rows = SPECS["q233_mutual_information"].fn(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_docs == 4 and r.n_sources == 2 and r.n_langs == 2
    assert r.mi_bits == 1.0 and r.h_source_bits == 1.0 and r.h_lang_bits == 1.0
    assert r.nmi == 1.0


def test_doc_distinctiveness_shared_and_unique_shingles(spark, tmp_path):
    """q236 with docs 'a b c d' and 'a b c e': each has shingles
    {'a b c', 'b c ?'} — one shared (df=2), one private (df=1) —
    so both score uniqueness exactly 0.5."""
    docs = [
        (1, "a b c d", "en", "s1", 7),
        (2, "a b c e", "en", "s1", 7),
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    spark.createDataFrame(docs, schema).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r.doc_id: r
        for r in SPECS["q236_doc_distinctiveness"].fn(spark, str(tmp_path)).collect()
    }
    assert set(out) == {1, 2}
    for r in out.values():
        assert r.n_shingles == 2 and r.n_unique_shingles == 1
        assert r.uniqueness == 0.5


def test_vocab_jaccard_known_overlap(spark, tmp_path):
    """q237 with vocab A = {a,b,c}, B = {b,c,d}: intersection 2, union
    4 → Jaccard 0.5, containment 2/3. Repeated tokens must not inflate
    the sets."""
    docs = [
        (1, "a b c", "en", "A", 5),
        (2, "c a b a", "en", "A", 7),  # repeats: vocab stays {a,b,c}
        (3, "b c d", "en", "B", 5),
    ]
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    spark.createDataFrame(docs, schema).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    rows = SPECS["q237_vocab_jaccard"].fn(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.source_a, r.source_b) == ("A", "B")
    assert r.vocab_a == 3 and r.vocab_b == 3 and r.n_common == 2
    assert r.jaccard == 0.5 and r.containment == round(2 / 3, 6)


def test_dsir_importance_separates_target_from_offdomain(spark, tmp_path):
    """q240 with target lang='en' owning token 'alpha' and fr owning
    'beta': w(en doc) = ln(3/4) − ln(3/6) = ln(1.5) > 0 (upweighted),
    w(fr doc) = ln(1/4) − ln(3/6) = ln(0.5) < 0."""
    import math

    from aws_iceberg_automation_spark.io import SCHEMAS

    docs = [
        (1, "alpha alpha", "en", "s", 11),
        (2, "beta beta", "fr", "s", 9),
    ]
    spark.createDataFrame(docs, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        (r.source, r.lang): r
        for r in SPECS["q240_dsir_importance"].fn(spark, str(tmp_path)).collect()
    }
    en, fr = out[("s", "en")], out[("s", "fr")]
    # corpus: V=2, T_c=4; target: T_t=2. Per-token ratios are constant
    # within each doc, so the doc avg equals the single-token ratio.
    assert en.avg_importance == pytest.approx(math.log(1.5), abs=2e-5)
    assert fr.avg_importance == pytest.approx(math.log(0.5), abs=2e-5)
    assert en.frac_upweighted == 1.0 and fr.frac_upweighted == 0.0
    assert en.n_docs == 1 and fr.n_docs == 1


def test_token_epoch_plan_sqrt_mixture_and_floor(spark, tmp_path):
    """q241 with 100 vs 400 tokens: √-shares normalize to 1/3 and 2/3
    of the 1000-token budget (2× corpus); epochs 3.33/1.665, neither
    clipped; a 10-token source would need 33 epochs → clipped, capped
    at 40 effective tokens."""
    from aws_iceberg_automation_spark.io import SCHEMAS

    def doc(i, n, src):
        return (i, " ".join(["w"] * n), "en", src, 2 * n)

    docs = [doc(1, 100, "small"), doc(2, 400, "big")]
    spark.createDataFrame(docs, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r.source: r
        for r in SPECS["q241_token_epoch_plan"].fn(spark, str(tmp_path)).collect()
    }
    s, b = out["small"], out["big"]
    assert (s.n_tokens, b.n_tokens) == (100, 400)
    assert s.natural_share == 0.2 and b.natural_share == 0.8
    # sqrt(.2)/(sqrt(.2)+sqrt(.8)) = 1/3 exactly (sqrt(.8)=2·sqrt(.2))
    assert s.sample_weight == pytest.approx(1 / 3, abs=1e-6)
    assert b.sample_weight == pytest.approx(2 / 3, abs=1e-6)
    assert (s.alloc_tokens, b.alloc_tokens) == (333, 666)
    assert (s.epochs, b.epochs) == (3.33, 1.665)
    assert not s.clipped and not b.clipped
    assert (s.effective_tokens, b.effective_tokens) == (333, 666)


def test_label_centroid_separation_orthogonal_and_diagonal(spark, tmp_path):
    """q242 with three one-vector labels (1,0), (0,1), (1,1): cosines
    0, 1/√2, 1/√2 — and the pair orientation is always lo<hi."""
    from aws_iceberg_automation_spark.io import SCHEMAS

    vecs = [(0, [1.0, 0.0], 0), (1, [0.0, 1.0], 1), (2, [1.0, 1.0], 2)]
    spark.createDataFrame(vecs, SCHEMAS["embeddings"]).write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    out = {
        (r.label_a, r.label_b): r.cos_centroids
        for r in SPECS["q242_label_centroid_separation"]
        .fn(spark, str(tmp_path))
        .collect()
    }
    assert set(out) == {(0, 1), (0, 2), (1, 2)}
    assert out[(0, 1)] == 0.0
    assert out[(0, 2)] == round(2**-0.5, 5)
    assert out[(1, 2)] == round(2**-0.5, 5)


def test_duplicate_ngram_mass_counts_shared_gram_occurrences(spark, tmp_path):
    """q243 with two 6-word docs sharing their first 5-gram: each doc
    has 2 gram occurrences, 1 of which is the shared gram → dup_mass
    0.5; a 1-word doc contributes nothing."""
    from aws_iceberg_automation_spark.io import SCHEMAS

    docs = [
        (1, "a b c d e f", "s", "s", 11),
        (2, "a b c d e x", "s", "s", 11),
        (3, "tiny", "s", "s", 4),
    ]
    docs = [(i, t, "en", src, n) for i, t, _, src, n in docs]
    spark.createDataFrame(docs, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    rows = SPECS["q243_duplicate_ngram_mass"].fn(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.total_grams, r.dup_grams, r.dup_mass) == (4, 2, 0.5)


def test_readability_known_sentence_and_syllable_counts(spark, tmp_path):
    """q244 on 'the cat sat. the dog ran.': 6 words, 2 sentences, 6
    vowel groups → wps 3, spw 1, flesch 206.835−3.045−84.6 = 119.19."""
    from aws_iceberg_automation_spark.io import SCHEMAS

    docs = [(1, "the cat sat. the dog ran.", "en", "s", 25)]
    spark.createDataFrame(docs, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    rows = SPECS["q244_readability"].fn(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.avg_words_per_sentence == 3.0
    assert r.avg_syllables_per_word == 1.0
    assert r.avg_flesch == 119.19
    assert r.n_hard_docs == 0


def test_hapax_ratio_exact_counts(spark, tmp_path):
    """q245 on 'a a b': vocab {a, b}, hapax {b} → ratio 0.5."""
    from aws_iceberg_automation_spark.io import SCHEMAS

    docs = [(1, "a a b", "en", "s", 5)]
    spark.createDataFrame(docs, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    rows = SPECS["q245_hapax_ratio"].fn(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.vocab_size, r.n_hapax, r.hapax_ratio) == (2, 1, 0.5)


def test_tfidf_top_terms_known_scores(spark, tmp_path):
    """q246 with A='x x x y', B='y z': y is corpus-wide (df=2 → idf 0),
    x and z are source-unique (idf ln 2) — each source's top term is
    its unique one, y ranks below at tfidf 0."""
    import math

    from aws_iceberg_automation_spark.io import SCHEMAS

    docs = [(1, "x x x y", "en", "A", 7), (2, "y z", "en", "B", 3)]
    spark.createDataFrame(docs, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        (r.source, r.rk): r
        for r in SPECS["q246_tfidf_top_terms"].fn(spark, str(tmp_path)).collect()
    }
    assert len(out) == 4
    a1, a2 = out[("A", 1)], out[("A", 2)]
    b1, b2 = out[("B", 1)], out[("B", 2)]
    assert (a1.term, a1.tf, a1.tfidf) == ("x", 3, round(3 * math.log(2), 5))
    assert (a2.term, a2.tfidf) == ("y", 0.0)
    assert (b1.term, b1.tfidf) == ("z", round(math.log(2), 5))
    assert (b2.term, b2.tfidf) == ("y", 0.0)


def test_template_prefix_census_shared_openings(spark, tmp_path):
    """q247: two docs opening 'a b' (different sources) are a census
    row with n_docs=2, n_sources=2; the unique opener and the 1-word
    doc contribute nothing."""
    from aws_iceberg_automation_spark.io import SCHEMAS

    docs = [
        (1, "a b c", "en", "s1", 5),
        (2, "a b d", "en", "s2", 5),
        (3, "e f", "en", "s1", 3),
        (4, "solo", "en", "s1", 4),
    ]
    spark.createDataFrame(docs, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    rows = SPECS["q247_template_prefix_census"].fn(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.prefix, r.n_docs, r.n_sources) == ("a b", 2, 2)


def test_embedding_dim_stats_known_moments(spark, tmp_path):
    """q248 on vectors (1,0) and (3,0): dim 1 mean 2 var 1 share 1.0,
    dim 2 all zero."""
    from aws_iceberg_automation_spark.io import SCHEMAS

    vecs = [(0, [1.0, 0.0], 0), (1, [3.0, 0.0], 0)]
    spark.createDataFrame(vecs, SCHEMAS["embeddings"]).write.parquet(
        str(tmp_path / "embeddings.parquet")
    )
    out = {
        r.pos: r
        for r in SPECS["q248_embedding_dim_stats"].fn(spark, str(tmp_path)).collect()
    }
    assert set(out) == {1, 2}
    assert (out[1].n, out[1].dim_mean, out[1].dim_var, out[1].var_share) == (
        2, 2.0, 1.0, 1.0,
    )
    assert (out[2].dim_mean, out[2].dim_var, out[2].var_share) == (0.0, 0.0, 0.0)


def test_doclen_histogram_buckets_and_shares(spark, tmp_path):
    """q249 with 10- and 20-word docs in one source: one doc per
    bucket, each share 0.5, token totals exact."""
    from aws_iceberg_automation_spark.io import SCHEMAS

    docs = [
        (1, " ".join(["w"] * 10), "en", "s", 19),
        (2, " ".join(["w"] * 20), "en", "s", 39),
    ]
    spark.createDataFrame(docs, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r.bucket: r
        for r in SPECS["q249_doclen_histogram"].fn(spark, str(tmp_path)).collect()
    }
    assert set(out) == {"<16", "16-31"}
    assert (out["<16"].n_docs, out["<16"].total_tokens, out["<16"].doc_share) == (
        1, 10, 0.5,
    )
    assert (out["16-31"].n_docs, out["16-31"].total_tokens) == (1, 20)


def test_source_ks_drift_disjoint_lengths(spark, tmp_path):
    """q250 with source A = two 5-word docs, B = two 10-word docs:
    each source's ECDF gaps the pooled corpus by exactly 0.5 at
    length 5; neither crosses the n=2 critical value (1.177)."""
    from aws_iceberg_automation_spark.io import SCHEMAS

    docs = [
        (1, " ".join(["w"] * 5), "en", "A", 9),
        (2, " ".join(["w"] * 5), "en", "A", 9),
        (3, " ".join(["w"] * 10), "en", "B", 19),
        (4, " ".join(["w"] * 10), "en", "B", 19),
    ]
    spark.createDataFrame(docs, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r.source: r
        for r in SPECS["q250_source_ks_drift"].fn(spark, str(tmp_path)).collect()
    }
    assert set(out) == {"A", "B"}
    for r in out.values():
        assert r.n_docs == 2
        assert r.ks_stat == 0.5
        assert r.ks_at_tokens == 5
        assert not r.drift_flag


def test_term_burstiness_concentrated_vs_spread(spark, tmp_path):
    """q252 with 'a a a a' in one doc and 'b' in two: a is bursty
    (expected df 3(1−e^{−4/3}) ≈ 2.21 over observed 1), b under-
    disperses the other way (≈1.46 expected over observed 2)."""
    import math

    from aws_iceberg_automation_spark.io import SCHEMAS

    docs = [
        (1, "a a a a", "en", "s", 7),
        (2, "b", "en", "s", 1),
        (3, "b", "en", "s", 1),
    ]
    spark.createDataFrame(docs, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r.term: r
        for r in SPECS["q252_term_burstiness"].fn(spark, str(tmp_path)).collect()
    }
    assert set(out) == {"a", "b"}
    e_a = 3 * (1 - math.exp(-4 / 3))
    e_b = 3 * (1 - math.exp(-2 / 3))
    assert (out["a"].tf, out["a"].df) == (4, 1)
    assert out["a"].expected_df == round(e_a, 4)
    assert out["a"].burstiness == round(e_a / 1, 4)
    assert (out["b"].tf, out["b"].df) == (2, 2)
    assert out["b"].burstiness == round(e_b / 2, 4)


def test_dedup_threshold_curve_known_pairs(spark, tmp_path):
    """q253 with docs 1≡2 (jaccard 1.0), 3 at jaccard 1/3 to each, 4
    disjoint: t=0.3 sees 3 pairs over 3 docs; t≥0.4 sees only the
    identical pair; token mass is Σ min(tokens)."""
    from aws_iceberg_automation_spark.io import SCHEMAS

    docs = [
        (1, "a b c d", "en", "s", 7),
        (2, "a b c d", "en", "s", 7),
        (3, "a b c x", "en", "s", 7),
        (4, "p q r s", "en", "s", 7),
    ]
    spark.createDataFrame(docs, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r.threshold: r
        for r in SPECS["q253_dedup_threshold_curve"].fn(spark, str(tmp_path)).collect()
    }
    assert len(out) == 7
    lo = out[0.3]
    assert (lo.n_pairs, lo.n_docs, lo.dup_token_mass) == (3, 3, 12)
    for t in (0.4, 0.5, 0.6, 0.7, 0.8, 0.9):
        r = out[t]
        assert (r.n_pairs, r.n_docs, r.dup_token_mass) == (1, 2, 4)


def test_source_lang_entropy_known_mixes(spark, tmp_path):
    """q259: a 75/25 en/fr source has H = −(.75 ln .75 + .25 ln .25)
    and dominant en; an exact 50/50 tie resolves to MAX(lang) = 'fr'."""
    import math

    from aws_iceberg_automation_spark.io import SCHEMAS

    docs = [
        (1, "w", "en", "s1", 1),
        (2, "w", "en", "s1", 1),
        (3, "w", "en", "s1", 1),
        (4, "w", "fr", "s1", 1),
        (5, "w", "en", "s2", 1),
        (6, "w", "fr", "s2", 1),
    ]
    spark.createDataFrame(docs, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r.source: r
        for r in SPECS["q259_source_lang_entropy"].fn(spark, str(tmp_path)).collect()
    }
    h1 = round(-(0.75 * math.log(0.75) + 0.25 * math.log(0.25)), 6)
    s1, s2 = out["s1"], out["s2"]
    assert (s1.n_langs, s1.lang_entropy) == (2, h1)
    assert s1.effective_langs == round(math.exp(h1), 4)
    assert (s1.dominant_lang, s1.dominant_share) == ("en", 0.75)
    assert (s2.n_langs, s2.lang_entropy) == (2, round(math.log(2), 6))
    assert (s2.dominant_lang, s2.dominant_share) == ("fr", 0.5)


def test_positional_dup_mass_head_boilerplate(spark, tmp_path):
    """q262 with two 15-word docs sharing ONLY their opening 5 words:
    the shared gram sits at position 0 of each doc (head tercile), so
    head dup_mass = 2/8 and middle/tail are clean."""
    from aws_iceberg_automation_spark.io import SCHEMAS

    shared = "a b c d e"
    d1 = shared + " " + " ".join(f"x{i}" for i in range(10))
    d2 = shared + " " + " ".join(f"y{i}" for i in range(10))
    docs = [(1, d1, "en", "s", len(d1)), (2, d2, "en", "s", len(d2))]
    spark.createDataFrame(docs, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r.tercile: r
        for r in SPECS["q262_positional_dup_mass"].fn(spark, str(tmp_path)).collect()
    }
    assert set(out) == {"head", "middle", "tail"}
    # 11 grams per doc: head pos 0-3, middle 4-7, tail 8-10
    assert (out["head"].total_grams, out["head"].dup_grams) == (8, 2)
    assert out["head"].dup_mass == 0.25
    assert out["middle"].dup_grams == 0 and out["tail"].dup_grams == 0
    assert (out["middle"].total_grams, out["tail"].total_grams) == (8, 6)


def test_dedup_threshold_curve_inclusive_boundary(spark, tmp_path):
    """q253's >= is inclusive on exact rationals: a pair at jaccard
    exactly 0.5 (shingle sets {abc,bcd} ⊂ {abc,bcd,cde,def}) counts at
    t = 0.5 and vanishes at t = 0.6 — deterministic on both engines
    because the ratio is an exact int/int double."""
    from aws_iceberg_automation_spark.io import SCHEMAS

    docs = [
        (1, "a b c d", "en", "s", 7),
        (2, "a b c d e f", "en", "s", 11),
    ]
    spark.createDataFrame(docs, SCHEMAS["documents"]).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    out = {
        r.threshold: r.n_pairs
        for r in SPECS["q253_dedup_threshold_curve"].fn(spark, str(tmp_path)).collect()
    }
    assert out[0.5] == 1 and out[0.4] == 1
    assert out[0.6] == 0 and out[0.9] == 0


def test_minhash_signature_projection_survives_collapse(spark):
    """Round-7 probe catch, pinned: when minhash_from_base_hashes is
    consumed PROJECTION-shaped (Project over Project — q321's census
    shape), CollapseProject used to merge the base-hash projection into
    the 32 permutation lambdas, re-running the md5 map once per
    permutation (209 s vs 10 s for the projected signature at the 20×
    replica). The size() guard keeps the producing projection alive;
    this asserts the structural signal — the `_hm` alias must still
    exist in the OPTIMIZED plan (a collapsed plan eliminates the
    intermediate alias entirely), so an optimizer-rule or guard
    regression reddens here instead of at the next 20× probe."""
    from aws_iceberg_automation_spark.operators.dedup import (
        _with_base_hashes,
        minhash_from_base_hashes,
        word_shingles,
    )

    d = load_table(spark, SF_DIR, "documents")
    sh = _with_base_hashes(
        d.select("doc_id", word_shingles(F.col("text"), 3).alias("shingles")),
        "shingles",
    )
    sig = sh.select(
        "doc_id", minhash_from_base_hashes(F.col("_hm"), 32).alias("sig")
    )
    optimized = sig._jdf.queryExecution().optimizedPlan().toString()
    assert "_hm#" in optimized, (
        "base-hash projection was collapsed into the signature lambdas — "
        "the md5 map now runs once per permutation (32×); see "
        "minhash_from_base_hashes's size() guard"
    )
    # and the guard must not have added a second md5 map either
    assert optimized.count("md5(") == 1, optimized.count("md5(")


def test_bucketed_lsh_index_join_plans_no_index_side_exchange(spark):
    """Plan-structure pin for q330 (VERDICT r07 ask #2): the persisted
    (band, band_hash)-bucketed LSH index must join exchange-free on
    the index side — asserted here directly with the bucketing
    helpers, independently of q330's own in-query differential — and
    the query's injected near-copies must all come back is_dup=1
    (anti-vacuousness)."""
    from aws_iceberg_automation_spark.operators.dedup import build_lsh_index
    from aws_iceberg_automation_spark.sources.bucketing import (
        exchange_count,
        session_table,
        write_bucketed,
    )

    docs = SPECS["q81_exact_dedup"].fn  # noqa: F841 — registry warm
    from aws_iceberg_automation_spark.io import load_table

    d = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    idx = build_lsh_index(d.filter(F.col("doc_id") < 100))
    t = session_table(spark, "q330_pin_idx")
    write_bucketed(idx, t, ["band", "band_hash"])
    probe = idx.select("band", "band_hash").distinct().limit(50)
    joined = probe.hint("merge").join(
        spark.table(t).hint("merge"), ["band", "band_hash"]
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # the scan of the bucketed table must carry the bucket layout
    assert "SelectedBucketsCount" in plan, plan
    # and swapping in an unbucketed copy must cost exactly one more
    # shuffle exchange (the index-side one)
    t_plain = session_table(spark, "q330_pin_plain")
    idx.write.format("parquet").mode("overwrite").saveAsTable(t_plain)
    plain = probe.hint("merge").join(
        spark.table(t_plain).hint("merge"), ["band", "band_hash"]
    )
    assert exchange_count(joined) == exchange_count(plain) - 1

    out = SPECS["q330_bucketed_incremental_neardup"].fn(spark, SF_DIR)
    rows = {r.new_doc_id: r.is_dup for r in out.collect()}
    injected = [i for i in rows if i >= 600000]
    # ≥90% not 100%: the portable multiplicative minhash family is
    # order-correlated for docs whose minimum base hash is tiny (all 32
    # slots then pick the same shingle, and one lower-hashing edit
    # flips many bands at once — doc 10 at sf0.001 is such a case).
    # The oracle mirrors every miss, so this is measured recall, not a
    # correctness gap.
    found = sum(rows[i] for i in injected)
    assert injected and found >= 0.9 * len(injected), (found, len(injected))
    assert any(v == 0 for v in rows.values())  # novel docs stay novel
