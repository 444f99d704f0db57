"""Deduplication operators (SURVEY.md §2.11 #81-82) — exact, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup.

Everything is built-in JVM expressions (higher-order array functions
over the one sketch hash, ``functions/compat.portable_hash64``); no
Python boundary, no MLlib model fitting — the signature computation is
a pure map, so it scales linearly and shuffles only (band_hash →
bucket) pairs, never full signatures of all docs to one place. Every
hash site (base shingle hashes, band hashes, bucket-cap salt) is one
DuckDB can recompute, so each LSH query's oracle re-derives the whole
pipeline.

Shapes at 100 TB:
- exact: groupBy(sha256) with min-id winner — one shuffle of (hash, id).
- MinHash/LSH: per-doc signature (map) → explode B bands (map) →
  self-join on (band, band_hash) buckets (shuffle ~B·N tiny rows) →
  verify candidates with exact Jaccard (join back to shingle sets).
  Bucket skew (boilerplate docs) is the known hazard and is ENFORCED
  against here: buckets over ``bucket_cap`` are salted into
  ceil(size/cap) deterministic sub-groups before pairing, bounding
  per-bucket work at ~size·cap instead of size² (one hot bucket of
  10M boilerplate docs is 5·10¹³ pairs uncapped). Pairs across salt
  groups of the same giant bucket are traded away; the transitive
  closure below re-merges the cluster, so dedup coverage survives.
- transitive closure: iterative min-id propagation with localCheckpoint
  each round (lineage cut), rounds = O(log component-diameter).

The fixture corpus has no EXACT duplicates (FIXTURES.md) but does carry
genuine near-duplicates: the LSH pipeline at threshold 0.5 verifies
28/25/256 pairs at sf0.001/0.01/0.1, so the oracle comparisons are
non-vacuous at every scale. Tests additionally inject controlled
duplicate clusters and assert the pipeline finds them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.compat import (
    portable_hash64,
    split_bucket,
    sql_portable_hash64,
    sql_split_bucket,
)
from ..io import load_table, rebalance_if_undersplit
from ..functions.ckpt import checkpoint_df
from ..registry import register

# --- shared shingle/signature expressions (JVM-side, codegen'd) -------


def word_shingles(text: str | Column, k: int = 3) -> Column:
    """Distinct k-word shingles of a whitespace-tokenized text."""
    tokens = F.split(text if isinstance(text, Column) else F.col(text), " ")
    n = F.size(tokens)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(tokens, i, k)),
    )
    return F.array_distinct(grams)


_MH_P = 2147483647  # 2^31 - 1 (prime): universal-hash modulus
_MH_A = 2654435761  # Knuth multiplicative constant
_MH_B = 40503


def _with_base_hashes(df: DataFrame, shingle_col: str) -> DataFrame:
    """``df`` plus ``_hm``: each shingle's portable hash mod P, the base
    array :func:`minhash_from_base_hashes` permutes. It is projected as
    its OWN column on purpose — see that function's docstring for why
    inlining it would re-digest every shingle once per permutation."""
    return df.withColumn(
        "_hm", F.transform(shingle_col, lambda s: portable_hash64(s) % _MH_P)
    )


def minhash_from_base_hashes(base: Column, num_hashes: int = 32) -> Column:
    """The permutation half of the MinHash signature:
    signature from an ALREADY-HASHED shingle array (values in [0, P)),
    via the universal family h_i(m) = (a_i·m + b_i) mod P with
    P = 2^31-1 and a_i = (i+1)·A mod P — exact int64 arithmetic
    (products < 2^62, never overflow) that DuckDB reproduces literally.
    Callers MUST materialize the base-hash array as its own projected
    column first (:func:`_with_base_hashes`) — expression CSE does not
    reach across lambda scopes, so inlining the md5 map here would
    re-digest every shingle once per permutation (measured 32×: 3.1s
    vs 0.4s for the base map at sf0.1). Projecting alone is NOT enough
    (round-7 20× probe catch):
    when the signature is consumed projection-shaped (Project over
    Project, e.g. q321's census — generator-shaped plans like q82's
    explode are safe), CollapseProject sees the base alias referenced
    ONCE lexically, merges the projections, and the md5 map lands back
    inside the 32 lambdas — runtime multiplicity is invisible to the
    refcount. The size() guard below references the base array a
    second time OUTSIDE any lambda, so the collapse rule (non-cheap
    expression used more than once) keeps the producing projection —
    measured 209 s → 10 s for the projected signature at the 20×
    replica. Semantics unchanged: NULL base → NULL either way."""
    return F.when(
        F.size(base) >= 0,
        F.transform(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda h: F.array_min(
                F.transform(
                    base,
                    lambda m: (
                        ((h + 1) * F.lit(_MH_A) % _MH_P) * m
                        + (h + 1) * F.lit(_MH_B) % _MH_P
                    )
                    % _MH_P,
                )
            ),
        ),
    )


def lsh_bands(sig: Column, bands: int = 8, rows: int = 4) -> Column:
    """Band the signature: array of (band_id, band_hash) structs. Two
    docs sharing any band bucket become a candidate pair."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            portable_hash64(
                F.concat_ws(",", F.transform(F.slice(sig, b * rows + 1, rows), lambda x: x.cast("string")))
            ).alias("band_hash"),
        ),
    )


def jaccard(a: Column, b: Column) -> Column:
    return F.size(F.array_intersect(a, b)).cast("double") / F.size(F.array_union(a, b))


@register(
    "q81_exact_dedup",
    oracle="""
SELECT md5(text) AS content_key,
       min(doc_id) AS keeper_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
""",
    tags=("dedup", "llm"),
)
def q81_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (#81): hash-groupBy with deterministic min-id winner.
    At scale the shuffle carries (32-byte key, id) per row — nothing
    else; the keeper join back to full rows is a second, semi-join-
    shaped pass when materializing the deduped corpus."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("content_key")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@register(
    "q81b_normalized_dedup",
    oracle="""
SELECT min(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS norm_key
FROM documents
GROUP BY 3
""",
    tags=("dedup", "llm"),
)
def q81b_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after canonicalization (lowercase, trim, whitespace
    collapse) — catches trivially-reformatted duplicates."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return d.groupBy(F.md5(norm).alias("norm_key")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def _lsh_candidate_pairs_frame(
    docs: DataFrame,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    bucket_cap: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """Candidate-generation half of the MinHash-LSH pipeline: returns
    ``(cand, sh)`` — distinct candidate pairs (doc_id_a < doc_id_b)
    from the cap-salted band buckets, plus the (doc_id, shingles)
    frame the verify step joins back to. Shared by the verified-pair
    dedup (minhash_candidate_pairs) and the estimator-accuracy audit
    (q268), so the two can never drift on banding/salting semantics.

    Skew guardrail: a (band, band_hash) bucket holding b docs yields
    C(b,2) candidate pairs — boilerplate corpora concentrate millions
    of docs in one bucket and the self-join goes quadratic. Buckets
    larger than ``bucket_cap`` are split into ceil(b/cap) sub-groups by
    a deterministic hash of doc_id; pairing then happens within
    sub-groups only, bounding the bucket's work at ~b·cap pairs. Docs
    in a giant bucket still pair with ~cap co-members per band, and
    the transitive closure (connected_components) recovers the full
    cluster, so the dedup decision is preserved — only redundant
    intra-cluster edges are dropped. The size count shuffles on the
    same (band, band_hash) key as the join, so AQE coalesces it into
    the existing exchange."""
    rows = num_hashes // bands
    # The signature map is the CPU-heavy stage (num_hashes hashes per
    # shingle per doc); a small single-file scan arrives as ONE input
    # split and would serialize it. Rebalance to the session's
    # parallelism when the scan undersplits — at real scale the file
    # set splits naturally and this branch never fires. (r10: routed
    # through the shared io.rebalance_if_undersplit guard, hash-keyed
    # on doc_id — no pre-repartition local sort.)
    docs = rebalance_if_undersplit(docs, F.col("doc_id"))
    sh = docs.select(
        "doc_id", word_shingles(F.col("text"), k).alias("shingles")
    )
    banded = _banded_postings(sh, "doc_id", "shingles", num_hashes, bands, rows)
    # The banded frame feeds the size count, the salt join AND both
    # sides of the candidate self-join — four lineage paths through the
    # expensive signature map (num_hashes hashes per shingle per doc).
    # Pin it: banded is tiny (N·bands rows of three int64s) while its
    # parent is the whole corpus — the materialize-the-signature-table
    # step every production dedup pipeline has (measured 8.2s → 2.9s at
    # sf0.1). Same lineage-control pattern as graph.connected_components,
    # with the same two documented costs: constructing the DataFrame is
    # eager (the checkpoint job runs at plan-build), and PLANS.md's
    # audit row shows the post-checkpoint plan.
    banded = banded.transform(checkpoint_df)
    sizes = banded.groupBy("band", "band_hash").agg(
        F.count(F.lit(1)).alias("bucket_size")
    )
    n_groups = F.ceil(F.col("bucket_size") / bucket_cap).cast("long")
    salted = banded.join(sizes, ["band", "band_hash"]).select(
        "doc_id",
        "band",
        "band_hash",
        F.when(F.col("bucket_size") <= bucket_cap, F.lit(0).cast("bigint"))
        .otherwise(
            F.pmod(
                portable_hash64(
                    F.concat(F.lit("lsh-salt:"), F.col("doc_id").cast("string"))
                ),
                n_groups,
            )
        )
        .alias("salt"),
    )
    a, b = salted.alias("a"), salted.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.salt") == F.col("b.salt"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b")
        )
        .distinct()
    )
    return cand, sh


def minhash_candidate_pairs(
    docs: DataFrame,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    bucket_cap: int = 64,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline over (doc_id, text): returns
    verified pairs (doc_id_a < doc_id_b, jaccard ≥ threshold) — the
    cap-salted candidate generation (see _lsh_candidate_pairs_frame)
    followed by the exact-Jaccard verify join."""
    cand, sh = _lsh_candidate_pairs_frame(docs, k, num_hashes, bands, bucket_cap)
    sa = sh.select(F.col("doc_id").alias("doc_id_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_id_b"), F.col("shingles").alias("sh_b"))
    jac = jaccard(F.col("sh_a"), F.col("sh_b"))
    # threshold the RAW ratio, round only for display — the oracle's
    # WHERE compares unrounded too, so boundary pairs cannot diverge
    return (
        cand.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .filter(jac >= threshold)
        .select(
            "doc_id_a",
            "doc_id_b",
            F.round(jac, 6).alias("jaccard"),
        )
    )


# Shared shingle→MinHash→banding CTE chain (the DuckDB re-derivation of
# minhash_from_base_hashes + lsh_bands on the portable hash family).
# All LSH oracles compose from this ONE fragment so a parameter change
# (num_hashes=32, P=2147483647, A=2654435761, B=40503, 8×4 banding)
# can never drift between them. ``src`` parameterizes the doc source
# so fixture-extended corpora (q288's injected crawl) reuse it.


def _minhash_ctes(src: str = "documents") -> str:
    return f"""tok AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM {src}
), sh AS (
  SELECT doc_id, list_distinct(list_transform(
           range(1, greatest(len(toks) - 2, 1) + 1),
           i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingles
  FROM tok
), base AS (
  SELECT doc_id, shingles,
         list_transform(shingles, s -> {sql_portable_hash64("s")} % 2147483647) AS hm
  FROM sh
), sig AS (
  SELECT doc_id, list_transform(range(0, 32),
    h -> list_min(list_transform(hm,
           m -> (((h + 1) * 2654435761 % 2147483647) * m
                 + (h + 1) * 40503 % 2147483647) % 2147483647))) AS sig
  FROM base
), banded AS (
  SELECT doc_id, b AS band,
    {sql_portable_hash64(
        "array_to_string(list_transform("
        "list_slice(sig, b * 4 + 1, b * 4 + 4), x -> CAST(x AS VARCHAR)), ',')"
    )} AS band_hash
  FROM sig, (SELECT unnest(range(0, 8)) AS b) bs
)"""


_MINHASH_CTES = _minhash_ctes()

# Candidate CTEs (cap-salted band buckets) — shared verbatim by the
# q82 verified-pair oracle and the q268 estimator-audit oracle, mirror
# of _lsh_candidate_pairs_frame.
_CAND_CTES = f"""sizes AS (
  SELECT band, band_hash, COUNT(*) AS bucket_size FROM banded GROUP BY 1, 2
), salted AS (
  SELECT doc_id, band, band_hash,
    CASE WHEN bucket_size <= 64 THEN 0
         ELSE {sql_portable_hash64("('lsh-salt:' || CAST(doc_id AS VARCHAR))")}
              % CAST(ceil(bucket_size / 64.0) AS BIGINT) END AS salt
  FROM banded JOIN sizes USING (band, band_hash)
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
  FROM salted a JOIN salted b
    ON a.band = b.band AND a.band_hash = b.band_hash
   AND a.salt = b.salt AND a.doc_id < b.doc_id
)"""

_Q82_ORACLE = f"""
WITH {_MINHASH_CTES}, {_CAND_CTES}
SELECT doc_id_a, doc_id_b,
  round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
        / len(list_distinct(sa.shingles || sb.shingles)), 6) AS jaccard
FROM cand
JOIN sh sa ON sa.doc_id = cand.doc_id_a
JOIN sh sb ON sb.doc_id = cand.doc_id_b
WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
      / len(list_distinct(sa.shingles || sb.shingles)) >= 0.5
"""


@register("q82_minhash_lsh_neardup", oracle=_Q82_ORACLE, tags=("dedup", "llm", "bench"))
def q82_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate pairs (#82), exact-Jaccard-verified.

    Oracle-backed (round 4): the ENTIRE pipeline — 3-word shingles →
    32-hash MinHash signature → 8×4 banding → bucket-size-capped
    salting → candidate self-join → exact-Jaccard verification at
    threshold 0.5 — is re-derived by DuckDB on the portable md5 hash
    family, so the driver hash-checks the flagship dedup operator end
    to end (the fixture corpus carries genuine near-dups at every sf:
    28/25/256 verified pairs at sf0.001/0.01/0.1)."""
    return minhash_candidate_pairs(load_table(spark, sf_dir, "documents"))


@register(
    "q82b_ngram_jaccard_pairs",
    oracle="""
WITH s AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(string_split(text, ' ')) - 1, 2)),
           i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')
         )) AS sh
  FROM documents WHERE doc_id < 120
)
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        / len(list_distinct(a.sh || b.sh)), 6) AS jaccard
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / len(list_distinct(a.sh || b.sh)) >= 0.02
""",
    tags=("dedup", "llm"),
)
def q82b_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard similarity (#82 ground truth): all-pairs on
    a deterministic 120-doc slice (the oracle must run it too). The
    production path is q82_minhash_lsh_neardup — this exact variant is
    the verifier and the oracle bridge for it."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    sh = d.select("doc_id", word_shingles(F.col("text")).alias("sh"))
    a = sh.select(F.col("doc_id").alias("doc_id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_id_b"), F.col("sh").alias("sh_b"))
    jac = jaccard(F.col("sh_a"), F.col("sh_b"))
    return (
        a.join(b, F.col("doc_id_a") < F.col("doc_id_b"))
        .filter(jac >= 0.02)
        .select("doc_id_a", "doc_id_b", F.round(jac, 6).alias("jaccard"))
    )


@register(
    "q82c_simhash",
    oracle="""
WITH tok AS (
  SELECT doc_id,
    CAST('0x' || substring(md5(t), 1, 15) AS BIGINT) AS h
  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
        FROM documents)
), bits AS (
  SELECT doc_id, b,
    CASE WHEN SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
         THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END AS bit
  FROM tok, (SELECT unnest(range(0, 60)) AS b) bs
  GROUP BY doc_id, b
)
SELECT doc_id,
  CAST(SUM(bit) AS BIGINT) AS simhash,
  CAST(SUM(bit) AS BIGINT) >> 44 AS band_prefix
FROM bits GROUP BY doc_id
""",
    tags=("dedup", "llm"),
)
def q82c_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (#82): locality-sensitive fingerprint — per bit, sign of
    Σ±1 over token hashes; near-dups have small Hamming distance. Pure
    expression pipeline. Output includes a 16-bit prefix band usable as
    a blocking key.

    Oracle-backed (VERDICT r03 ask #2): runs on the 60-bit portable
    md5-derived hash (functions/compat.portable_hash64) so DuckDB
    recomputes the identical signature bit-for-bit (sum of disjoint
    bit values = OR; the ±1 fold is order-independent, so Spark's
    expression fold and DuckDB's grouped SUM agree exactly)."""
    d = load_table(spark, sf_dir, "documents")
    # SQL-expression form: the Python shiftleft/shiftright wrappers only
    # take literal ints, but the SQL functions accept expressions — which
    # the per-bit lambda needs.
    #
    # Evaluation shape (round-7 full-registry 20× probe catch, the
    # minhash_from_base_hashes lesson applied): the token-hash array
    # must be hoisted OUT of the per-bit lambda — inlined, the md5 map
    # re-runs once per bit (60×), and referencing the whole simhash
    # expression twice in one select doubles that again (120× total —
    # 48 s at the 20× replica, 3.5 s after hoisting). The size() guard
    # gives the hash-array alias a second lexical reference outside
    # any lambda so CollapseProject keeps its projection, and simhash
    # itself is consumed from its own projection (two references →
    # never collapsed).
    hm = d.select(
        "doc_id",
        F.expr(
            "transform(array_distinct(split(text, ' ')), "
            "t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT))"
        ).alias("hm"),
    )
    simhash = F.expr(
        """
IF(size(hm) >= 0,
aggregate(
  zip_with(
    transform(sequence(0, 59),
      b -> aggregate(hm, 0,
             (acc, h) -> acc + IF(shiftright(h, b) & 1 = 1, 1, -1))),
    sequence(0, 59),
    (v, b) -> IF(v > 0, shiftleft(CAST(1 AS BIGINT), b), CAST(0 AS BIGINT))),
  CAST(0 AS BIGINT),
  (acc, x) -> acc | x),
CAST(NULL AS BIGINT))
"""
    )
    return hm.select("doc_id", simhash.alias("simhash")).select(
        "doc_id",
        "simhash",
        F.shiftright("simhash", 44).alias("band_prefix"),
    )


@register(
    "q82d_embedding_neardup",
    oracle="""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id < 150)
SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
       a.label AS label_a, b.label AS label_b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
         AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.3
""",
    tags=("dedup", "llm", "vector"),
)
def q82d_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (#82) on a deterministic
    150-vector slice (all-pairs is the oracle-checkable ground truth;
    the scale path is the LSH bucketing in similarity.py). Both engines
    compute the identical sequential fold; the threshold compares the
    ROUNDED cosine on both sides (0.3 — chosen so the fixture slice
    yields a non-trivial 88-pair result instead of the vacuous empty
    set a 0.8 cut produced, which exercised nothing)."""
    from ..functions.vectors import cosine

    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150)
    e = e.select("vec_id", "label", F.col("embedding").alias("v"))
    a = e.select(
        F.col("vec_id").alias("vec_id_a"), F.col("label").alias("label_a"),
        F.col("v").alias("va"),
    )
    b = e.select(
        F.col("vec_id").alias("vec_id_b"), F.col("label").alias("label_b"),
        F.col("v").alias("vb"),
    )
    cos = cosine(F.col("va"), F.col("vb"))
    return (
        a.join(b, F.col("vec_id_a") < F.col("vec_id_b"))
        .filter(F.round(cos, 6) >= 0.3)
        .select(
            "vec_id_a", "vec_id_b", "label_a", "label_b",
            F.round(cos, 6).alias("cosine"),
        )
    )


def connected_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Transitive closure of near-dup pairs → (doc_id, component_id =
    min reachable id). Iterative min-id propagation; each round is two
    small joins + localCheckpoint (cuts lineage — mandatory in loops).
    Rounds needed = O(log diameter); dedup components are tiny, so this
    converges in 2-3 rounds in practice."""
    edges = (
        pairs.selectExpr("doc_id_a AS src", "doc_id_b AS dst")
        .union(pairs.selectExpr("doc_id_b AS src", "doc_id_a AS dst"))
        .distinct()
        .transform(checkpoint_df)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .transform(checkpoint_df)
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("comp").alias("n_comp"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                F.col("id"),
                F.least(
                    F.col("comp"), F.coalesce(F.col("n_comp"), F.col("comp"))
                ).alias("comp"),
            )
            .transform(checkpoint_df)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("id").alias("doc_id"), F.col("comp").alias("component_id"))


def set_similarity_join(
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    id_col: str = "id",
    set_col: str = "tokens",
) -> DataFrame:
    """Prefix-filtered set-similarity join (AllPairs/PPJoin family):
    all cross pairs with Jaccard(left.tokens, right.tokens) ≥ threshold
    — entity resolution / fuzzy matching between two catalogs without
    the all-pairs cross product.

    The filter that makes it scale: order each set's tokens globally by
    (corpus frequency, token) — rarest first — and keep only the first
    ``|x| - ceil(t·|x|) + 1`` tokens as the *prefix*. Any pair with
    Jaccard ≥ t MUST share at least one prefix token (pigeonhole on the
    required overlap ``t/(1+t)·(|r|+|s|)``), so candidates come from an
    equi-join on prefix tokens only: rare tokens generate few pairs,
    and the frequent tokens that would explode the join are exactly the
    ones the prefix excludes. Candidates then verify with the exact
    Jaccard expression. No false negatives (asserted vs all-pairs in
    tests); shuffles: one token-frequency agg, one window per side on
    (side, id), one equi-join on rare tokens, one verify join.

    Inputs must carry (id_col, set_col) with distinct array elements.
    """
    l_ = left.select(F.col(id_col).alias("lid"), F.col(set_col).alias("lset"))
    r_ = right.select(F.col(id_col).alias("rid"), F.col(set_col).alias("rset"))

    def prefix(side: DataFrame, idc: str, setc: str, freq: DataFrame) -> DataFrame:
        ex = side.select(idc, F.size(setc).alias("n"), F.explode(setc).alias("tok"))
        ranked = ex.join(freq, "tok").withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy(idc).orderBy("freq", "tok")
            ),
        )
        plen = F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
        return ranked.filter(F.col("rn") <= plen).select(idc, "tok")

    vocab = (
        l_.select(F.explode("lset").alias("tok"))
        .union(r_.select(F.explode("rset").alias("tok")))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    cand = (
        prefix(l_, "lid", "lset", vocab)
        .join(prefix(r_, "rid", "rset", vocab), "tok")
        .select("lid", "rid")
        .distinct()
    )
    jac = jaccard(F.col("lset"), F.col("rset"))
    return (
        cand.join(l_, "lid")
        .join(r_, "rid")
        .filter(jac >= threshold)
        .select("lid", "rid", F.round(jac, 6).alias("jaccard"))
    )


@register(
    "q121_fuzzy_catalog_match",
    oracle="""
WITH s AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS tok
  FROM documents WHERE doc_id < 300
)
SELECT a.doc_id AS lid, b.doc_id AS rid,
  round(CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
        / len(list_distinct(a.tok || b.tok)), 6) AS jaccard
FROM s a JOIN s b ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
WHERE CAST(len(list_intersect(a.tok, b.tok)) AS DOUBLE)
      / len(list_distinct(a.tok || b.tok)) >= 0.9
""",
    tags=("dedup", "llm"),
)
def q121_fuzzy_catalog_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity matching between two catalogs (even-id docs vs
    odd-id docs, unigram Jaccard ≥ 0.9) through the prefix-filtered
    set-similarity join. The oracle recomputes the answer as an exact
    all-pairs join on the bounded slice — so a hash match here proves
    the prefix filter dropped no qualifying pair."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    toks = d.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(F.split("text", " ")).alias("tokens"),
    )
    return set_similarity_join(
        toks.filter(F.col("id") % 2 == 0),
        toks.filter(F.col("id") % 2 == 1),
        threshold=0.9,
    )


def _banded_postings(
    sh: DataFrame,
    id_col: str,
    shingle_col: str,
    num_hashes: int,
    bands: int,
    rows: int,
) -> DataFrame:
    """(id, band, band_hash) postings from a (id, shingles) frame —
    the shared banding step of the one-shot pipeline, the persistable
    index build and the incremental crawl. The base-hash array is
    projected first (see minhash_from_base_hashes).

    Undersplit guard lives HERE so every caller gets it (round-7
    full-registry probe: q131/q288 banded their batch straight off a
    4-file fixture scan and serialized the md5 stage on 4 of 32 cores
    — the same catch q321 and _lsh_candidate_pairs_frame had already
    fixed locally). It is the shared ``io.rebalance_if_undersplit``,
    hash-keyed on the id: few fixture files → spread before the
    signature map. _lsh_candidate_pairs_frame also guards its scan, so
    the shingles are computed after the spread; the two repartitions
    plan as one exchange."""
    sh = rebalance_if_undersplit(sh, F.col(id_col))
    sig = minhash_from_base_hashes(F.col("_hm"), num_hashes)
    # r10: materialize the signature as its OWN projected column before
    # the banding explode. Inlined, the whole num_hashes-permutation
    # map sits inside lsh_bands' per-band lambda (slice(sig, ...)) and
    # re-evaluates once PER BAND per row — an 8× runtime multiplicity
    # invisible to lexical refcounts, the same lambda-scope trap as
    # minhash_from_base_hashes' base array (measured 1.4 s → 0.5 s for
    # the banded job at sf0.1). The projection sits below the Generate
    # (explode), which CollapseProject does not merge into — the
    # "generator-shaped plans are safe" property this module already
    # documents.
    return (
        _with_base_hashes(sh, shingle_col)
        .select(id_col, sig.alias("_sig"))
        .select(id_col, F.explode(lsh_bands(F.col("_sig"), bands, rows)).alias("b"))
        .select(id_col, "b.band", "b.band_hash")
    )


def build_lsh_index(
    docs: DataFrame,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    bucket_cap: int = 64,
) -> DataFrame:
    """Persistable MinHash-LSH index over (doc_id, text): one row per
    (doc_id, band, band_hash) posting. The incremental-crawl contract:
    build once over the corpus, write to a (versioned) table
    partitioned/bucketed by (band, band_hash), then dedup every new
    batch against it WITHOUT touching corpus text again
    (``incremental_neardup``).

    Postings are capped at ``bucket_cap`` per bucket (lowest doc_id
    wins, deterministic) — classic posting-list truncation: a
    boilerplate bucket with millions of members would otherwise make
    every future batch join quadratic, and any retained member of a
    near-identical bucket serves as the match witness for the verify
    step. The cap runs as one window on the (band, band_hash) key the
    index is shuffled by anyway."""
    rows = num_hashes // bands
    sh = docs.select(
        "doc_id", word_shingles(F.col("text"), k).alias("shingles")
    )
    banded = _banded_postings(sh, "doc_id", "shingles", num_hashes, bands, rows)
    from ..functions.ranking import cap_groups

    return cap_groups(banded, ["band", "band_hash"], [F.col("doc_id")], bucket_cap)


def incremental_neardup(
    corpus_index: DataFrame,
    corpus_docs: DataFrame,
    new_docs: DataFrame,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Dedup a new batch against an indexed corpus: band the new docs
    (map-side), equi-join their postings against the stored index on
    (band, band_hash), then verify surviving candidate pairs with exact
    shingle Jaccard. Corpus text is read ONLY for candidate ids (the
    join prunes the scan — at 100 TB the batch is small, the index join
    is |batch postings| ⋈ index, and text verification touches
    |candidates| corpus rows, not the corpus).

    Returns one row per new doc: its best corpus match above
    ``threshold`` (max jaccard, min corpus id tiebreak) with
    ``is_dup = 1``, or nulls + ``is_dup = 0`` for novel docs."""
    rows = num_hashes // bands
    new_sh = new_docs.select(
        F.col("doc_id").alias("new_doc_id"),
        word_shingles(F.col("text"), k).alias("new_sh"),
    )
    new_banded = _banded_postings(
        new_sh, "new_doc_id", "new_sh", num_hashes, bands, rows
    )
    cand = (
        new_banded.join(corpus_index, ["band", "band_hash"])
        .select("new_doc_id", F.col("doc_id").alias("corpus_doc_id"))
        .distinct()
    )
    corpus_sh = corpus_docs.select(
        F.col("doc_id").alias("corpus_doc_id"),
        word_shingles(F.col("text"), k).alias("corp_sh"),
    )
    jac = jaccard(F.col("new_sh"), F.col("corp_sh"))
    # raw-ratio threshold, rounded display — same boundary contract as
    # minhash_candidate_pairs / the DuckDB oracle
    verified = (
        cand.join(corpus_sh, "corpus_doc_id")
        .join(new_sh, "new_doc_id")
        .filter(jac >= threshold)
        .select(
            "new_doc_id",
            "corpus_doc_id",
            F.round(jac, 6).alias("jaccard"),
        )
    )
    w = Window.partitionBy("new_doc_id").orderBy(
        F.col("jaccard").desc(), F.col("corpus_doc_id")
    )
    best = (
        verified.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )
    return (
        new_docs.select(F.col("doc_id").alias("new_doc_id"))
        .join(best, "new_doc_id", "left")
        .select(
            "new_doc_id",
            "corpus_doc_id",
            "jaccard",
            F.when(F.col("corpus_doc_id").isNotNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_dup"),
        )
    )


_Q131_ORACLE = f"""
WITH {_MINHASH_CTES}, idx AS (
  SELECT band, band_hash, doc_id AS corpus_doc_id FROM (
    SELECT band, band_hash, doc_id,
           row_number() OVER (PARTITION BY band, band_hash
                              ORDER BY doc_id) AS rk
    FROM banded WHERE doc_id < 400)
  WHERE rk <= 64
), cand AS (
  SELECT DISTINCT n.doc_id AS new_doc_id, idx.corpus_doc_id
  FROM (SELECT * FROM banded WHERE doc_id >= 400) n
  JOIN idx USING (band, band_hash)
), verified AS (
  SELECT new_doc_id, corpus_doc_id,
    round(CAST(len(list_intersect(sn.shingles, sc.shingles)) AS DOUBLE)
          / len(list_distinct(sn.shingles || sc.shingles)), 6) AS jaccard
  FROM cand
  JOIN sh sn ON sn.doc_id = cand.new_doc_id
  JOIN sh sc ON sc.doc_id = cand.corpus_doc_id
  WHERE CAST(len(list_intersect(sn.shingles, sc.shingles)) AS DOUBLE)
        / len(list_distinct(sn.shingles || sc.shingles)) >= 0.5
), best AS (
  SELECT new_doc_id, corpus_doc_id, jaccard FROM (
    SELECT *, row_number() OVER (PARTITION BY new_doc_id
                                 ORDER BY jaccard DESC, corpus_doc_id) AS rk
    FROM verified)
  WHERE rk = 1
)
SELECT d.doc_id AS new_doc_id, b.corpus_doc_id, b.jaccard,
  CAST(CASE WHEN b.corpus_doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS is_dup
FROM (SELECT doc_id FROM documents WHERE doc_id >= 400) d
LEFT JOIN best b ON b.new_doc_id = d.doc_id
"""


@register("q131_incremental_neardup", oracle=_Q131_ORACLE, tags=("dedup", "llm"))
def q131_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental crawl dedup: docs 0-399 are the indexed corpus, 400+
    are the incoming batch deduped against the stored postings without
    re-touching corpus text except for verified candidates.

    Oracle-backed (round 4): index build (capped postings = the same
    first-64-per-bucket rule), batch banding, candidate join and
    best-match selection are all re-derived by DuckDB on the portable
    hash family. The pytest invariant additionally injects corpus
    near-dups into the batch and asserts they are caught while novel
    docs pass."""
    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") < 400)
    batch = d.filter(F.col("doc_id") >= 400)
    idx = build_lsh_index(corpus)
    return incremental_neardup(idx, corpus, batch)


@register(
    "q145_quality_aware_dedup",
    oracle=r"""
WITH d AS (
  SELECT doc_id,
    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS cluster_hash,
    round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
          / len(string_split(text, ' ')), 6) AS score
  FROM documents
), r AS (
  SELECT doc_id, cluster_hash, score,
    row_number() OVER (PARTITION BY cluster_hash
                       ORDER BY score DESC, doc_id) AS rk,
    COUNT(*) OVER (PARTITION BY cluster_hash) AS n_members
  FROM d
)
SELECT cluster_hash, doc_id AS keep_doc_id,
  CAST(n_members AS BIGINT) AS n_members, score
FROM r WHERE rk = 1
ORDER BY cluster_hash
""",
    tags=("dedup", "llm"),
)
def q145_quality_aware_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware winner selection per duplicate cluster: instead of
    q81's keep-min-id rule, keep the member with the *highest quality
    score* (here q86's vocabulary-diversity ratio; any scalar score
    plugs in) — the curation decision real pipelines make when a dup
    cluster mixes a clean copy with boilerplate-damaged ones.

    Plan: cluster key and score are map-side expressions; one window
    over cluster_hash picks the argmax (score desc, doc_id tiebreak) —
    a single shuffle on a ~|docs|-cardinality key, so partitions stay
    small at any scale (the md5 key can't be hot unless the corpus is
    one giant dup cluster — exactly the case where the LSH cap in
    minhash_candidate_pairs applies upstream)."""
    d = load_table(spark, sf_dir, "documents")
    tokens = F.split("text", " ")
    score = F.round(
        F.size(F.array_distinct(tokens)).cast("double") / F.size(tokens), 6
    )
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    scored = d.select(
        "doc_id",
        F.md5(norm).alias("cluster_hash"),
        score.alias("score"),
    )
    w = Window.partitionBy("cluster_hash")
    ordered = Window.partitionBy("cluster_hash").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(ordered))
        .withColumn("n_members", F.count(F.lit(1)).over(w))
        .filter(F.col("rk") == 1)
        .select(
            "cluster_hash",
            F.col("doc_id").alias("keep_doc_id"),
            F.col("n_members").cast("bigint").alias("n_members"),
            "score",
        )
        .orderBy("cluster_hash")
    )


@register(
    "q155_edit_distance_match",
    oracle="""
WITH dirty AS (
  SELECT c_custkey AS d_key,
    CASE WHEN c_custkey % 7 = 0 THEN replace(c_name, 'Customer', 'Custmer')
         WHEN c_custkey % 11 = 0 THEN replace(c_name, 'Customer', 'customerX')
         ELSE c_name END AS d_name
  FROM customer
), blocked AS (
  SELECT c.c_custkey, c.c_name, d.d_key, d.d_name,
    levenshtein(c.c_name, d.d_name) AS dist
  FROM customer c
  JOIN dirty d ON right(c.c_name, 6) = right(d.d_name, 6)
)
SELECT c_custkey, c_name, d_name, CAST(dist AS INT) AS dist
FROM blocked
WHERE dist <= 2
ORDER BY c_custkey
""",
    tags=("dedup",),
)
def q155_edit_distance_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance entity resolution with blocking: a deterministically
    'dirtied' copy of the customer roster (every 7th name loses a
    letter, every 11th is re-cased and extended) is matched back to the
    clean roster by levenshtein ≤ 2 — but ONLY inside blocks sharing
    the last-6-char key, so the join is an equi-hash on the block key
    with the O(|a|·|b|) edit-distance confined to tiny in-block pairs.
    All-pairs levenshtein is quadratic and unshippable at scale;
    blocking + residual is the entity-resolution standard, and the
    block key here (stable id digits) guarantees zero false negatives
    for these corruption modes — the same guarantee structure as
    q121's prefix-filtered set-similarity join."""
    c = load_table(spark, sf_dir, "customer")
    dirty = c.select(
        F.col("c_custkey").alias("d_key"),
        F.when(
            F.col("c_custkey") % 7 == 0,
            F.regexp_replace("c_name", "Customer", "Custmer"),
        )
        .when(
            F.col("c_custkey") % 11 == 0,
            F.regexp_replace("c_name", "Customer", "customerX"),
        )
        .otherwise(F.col("c_name"))
        .alias("d_name"),
    )
    blocked = c.join(
        dirty, F.substring("c_name", -6, 6) == F.substring("d_name", -6, 6)
    ).withColumn("dist", F.levenshtein("c_name", "d_name"))
    return (
        blocked.filter(F.col("dist") <= 2)
        .select("c_custkey", "c_name", "d_name", F.col("dist").cast("int").alias("dist"))
        .orderBy("c_custkey")
    )


@register(
    "q158_dup_span_coverage",
    oracle="""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS shingle
  FROM words, unnest(generate_series(1, greatest(len(w) - 7, 0))) AS t(i)
), dupc AS (
  SELECT shingle, COUNT(*) AS n_docs FROM sh GROUP BY shingle
)
SELECT s.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_shingles,
  CAST(SUM(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_shingles,
  round(SUM(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END)
        / CAST(COUNT(*) AS DOUBLE), 6) AS dup_coverage
FROM sh s JOIN dupc d USING (shingle)
GROUP BY s.doc_id
""",
    tags=("dedup", "llm"),
)
def q158_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span coverage: for every document, the fraction of its
    distinct 8-word spans that also occur in at least one OTHER document
    — the per-doc statistic behind exact-substring dedup (the signal
    "this doc is 40% boilerplate shared with the rest of the corpus").

    Plan shape: shingling is a pure per-row map (sequence/slice
    higher-order exprs, no Python); the only wide ops are one
    distinct + one count per shingle key and one shuffle join back on
    that same key — word-count shape, linear in corpus token count at
    any scale. No all-pairs anything: a span shared by 10M docs costs
    one counter, not 10M² comparisons.
    """
    return dup_span_coverage(load_table(spark, sf_dir, "documents"))


def dup_span_coverage(d: DataFrame, k: int = 8) -> DataFrame:
    """Core of q158 over any (doc_id, text) frame; k = span width."""
    # Distinct 8-grams per doc. Docs with < k words are filtered out
    # BEFORE the transform: Spark's sequence(1, n) counts DOWN when
    # n < 1 (it is not empty like DuckDB's generate_series), so the
    # guard is what keeps slice() off position 0 on short docs. The
    # oracle drops the same docs via its empty generate_series.
    sh = (
        d.select(F.col("doc_id"), F.split("text", " ").alias("w"))
        .filter(F.size("w") >= k)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(w) - {k} + 1),"
                    f" i -> concat_ws(' ', slice(w, i, {k})))"
                )
            ).alias("shingle"),
        )
        .distinct()
    )
    dupc = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        sh.join(dupc, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).alias(
                "n_dup_shingles"
            ),
            F.round(
                F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("dup_coverage"),
        )
    )


_Q167_ORACLE = f"""
WITH RECURSIVE pairs AS ({_Q82_ORACLE}),
nodes AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id_a AS doc_id FROM pairs
    UNION ALL SELECT doc_id_b FROM pairs)
), edges AS (
  SELECT doc_id_a AS a, doc_id_b AS b FROM pairs
  UNION SELECT doc_id_b, doc_id_a FROM pairs
), reach AS (
  SELECT doc_id AS node, doc_id AS lbl FROM nodes
  UNION
  SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
), comp AS (
  SELECT node AS doc_id, min(lbl) AS component_id FROM reach GROUP BY node
)
SELECT component_id,
  CAST(COUNT(*) AS BIGINT) AS n_members,
  min(doc_id) AS keeper_doc_id,
  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS member_ids
FROM comp GROUP BY component_id
"""


@register("q167_neardup_clusters", oracle=_Q167_ORACLE, tags=("dedup", "llm"))
def q167_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster report: LSH candidate pairs → transitive
    closure → one row per duplicate cluster with its size, keeper
    (min id — the doc a dedup pass would retain), and the sorted
    member list — the artifact a dedup pipeline actually publishes
    for audit ("which docs were merged, and who survived").

    Plan shape: pairs are LSH-bucketed (never all-pairs, capped
    buckets), the closure is O(log diameter) rounds of small joins
    with lineage checkpoints, and the report is one hash agg on
    component_id. member_ids is emitted as a comma-joined string —
    bounded by cluster size, and cluster sizes are bounded by the
    LSH bucket cap upstream.

    Oracle-backed (round 4): pairs come from q82's portable-hash
    pipeline, and DuckDB re-derives the closure with a recursive CTE
    (min reachable id = the same min-id-propagation fixpoint), so the
    driver hash-checks cluster membership exactly. pytest separately
    asserts injected duplicate clusters surface intact."""
    d = load_table(spark, sf_dir, "documents")
    comp = connected_components(minhash_candidate_pairs(d))
    return comp.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("doc_id").alias("keeper_doc_id"),
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
        ).alias("member_ids"),
    )


# Canonical-occurrence encoding for span dedup: doc_id * 2^20 + start.
# Token positions are bounded far below 2^20 (documents are short
# strings; a 1 MB doc is ~2·10^5 tokens), so the packed key orders by
# (doc_id, start) exactly and fits BIGINT for doc_ids up to ~8·10^12.
_SPAN_POS_BASE = 1 << 20


@register(
    "q171_span_dedup_clean",
    oracle="""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), tok AS (
  SELECT doc_id, i AS pos, w[i] AS word
  FROM words, unnest(generate_series(1, len(w))) AS t(i)
), occ AS (
  SELECT doc_id, i AS start, array_to_string(w[i:i+7], ' ') AS shingle
  FROM words, unnest(generate_series(1, greatest(len(w) - 7, 0))) AS t(i)
), verdict AS (
  SELECT shingle, COUNT(*) AS n_occ,
         MIN(doc_id * 1048576 + start) AS canon
  FROM occ GROUP BY shingle
), removed AS (
  SELECT DISTINCT o.doc_id, o.start + j AS pos
  FROM occ o JOIN verdict v USING (shingle),
       unnest(generate_series(0, 7)) AS u(j)
  WHERE v.n_occ > 1 AND o.doc_id * 1048576 + o.start <> v.canon
)
SELECT t.doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_tokens,
  CAST(COUNT(r.pos) AS BIGINT) AS n_removed,
  COALESCE(string_agg(CASE WHEN r.pos IS NULL THEN t.word END,
                      ' ' ORDER BY t.pos), '') AS cleaned_text
FROM tok t LEFT JOIN removed r ON t.doc_id = r.doc_id AND t.pos = r.pos
GROUP BY t.doc_id
""",
    tags=("dedup", "llm", "bench"),
)
def q171_span_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup that REWRITES the corpus (the removal pass
    of Lee et al.'s "Deduplicating Training Data Makes Language Models
    Better", approximated at fixed 8-word span granularity): every
    duplicated 8-gram occurrence except the corpus-canonical one (min
    (doc_id, start)) is removed, and each document's surviving tokens
    are re-joined into cleaned text. q158 measures the duplication;
    this operator produces the deduplicated training corpus itself.

    Plan shape (all linear, word-count-shaped — no pairwise term):
    shingling and token positions are per-row maps; the verdict is one
    two-phase hash agg on the shingle key (count + packed argmin in the
    same pass); non-canonical occurrences explode to ≤k positions each;
    the rewrite is one (doc_id, pos) equi-join plus one per-doc hash
    agg whose state is bounded by document length. A boilerplate span
    shared by 10M docs costs one counter and 10M position rows —
    occurrence-linear, never quadratic. Skewed shingle keys carry only
    (doc_id, start) pairs through the shuffle; AQE splits the hot
    reducers.
    """
    return span_dedup_clean(load_table(spark, sf_dir, "documents"))


def span_dedup_clean(d: DataFrame, k: int = 8) -> DataFrame:
    """Core of q171 over any (doc_id, text) frame; k = span width.
    Docs shorter than k tokens have no shingles and pass through
    unmodified (n_removed = 0, cleaned_text = original).

    Rewrite strategy (v2 — span-grain, not token-grain): the first
    version exploded every token (doc_id, pos, word) and ran three
    token-grain shuffles (removed-position distinct, position join,
    per-doc re-collect). This version never shuffles tokens at all:
    non-canonical duplicated span STARTS are interval-merged per doc
    with the classic running-max window (span-grain — spans are ≤
    tokens/1 but only *duplicated* ones survive the filter, usually a
    tiny fraction), the merged [a, b] interval list joins back to the
    doc row (doc-grain), and the rewrite is a map-side slice of the
    uncovered gaps. Shuffle volume drops from 3× token-grain to
    1× duplicated-span-grain + 1× doc-grain — measured 1.9× on the
    20× replica (18.3 s → 9.6 s; the remaining cost is the
    irreducible shingle-grain verdict agg) with identical output (the
    brute-force differential fuzz pins the semantics).

    r10: the input routes through the shared undersplit guard,
    hash-keyed on doc_id (keyless round-robin pays a hidden local
    sort) — the shingle explode + verdict partial agg is the heavy
    pre-exchange compute, and on the single-split fixtures it ran on
    one core (no-op at production split counts)."""
    d = rebalance_if_undersplit(d, F.col("doc_id"))
    w = d.select("doc_id", F.split("text", " ").alias("w"))
    occ = (
        w.filter(F.size("w") >= k)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(w) - {k} + 1),"
                    f" i -> struct(i AS start,"
                    f" concat_ws(' ', slice(w, i, {k})) AS shingle))"
                )
            ).alias("s"),
        )
        .select("doc_id", "s.start", "s.shingle")
    )
    packed = F.col("doc_id") * _SPAN_POS_BASE + F.col("start")
    verdict = occ.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.min(packed).alias("canon"),
    )
    rem = (
        occ.join(verdict, "shingle")
        .filter((F.col("n_occ") > 1) & (packed != F.col("canon")))
        .select("doc_id", "start")
    )
    # interval-merge the removed spans [start, start+k-1] per doc:
    # running max-end window → break flags → cumulative group ids →
    # (min start, max end) per group. All linear at span grain.
    ws = Window.partitionBy("doc_id").orderBy("start")
    prior_end = F.max(F.col("start") + (k - 1)).over(
        ws.rowsBetween(Window.unboundedPreceding, -1)
    )
    grouped = (
        rem.withColumn(
            "brk",
            F.when(
                prior_end.isNull() | (F.col("start") > prior_end + 1), 1
            ).otherwise(0),
        )
        .withColumn(
            "grp",
            F.sum("brk").over(ws.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("doc_id", "grp")
        .agg(
            F.min("start").alias("a"),
            (F.max("start") + (k - 1)).alias("b"),
        )
    )
    ivs = grouped.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("a", "b"))).alias("iv")
    )
    out = w.join(ivs, "doc_id", "left").withColumn(
        "iv", F.coalesce("iv", F.expr("cast(array() AS array<struct<a:int,b:int>>)"))
    )
    # map-side rebuild: cleaned text = the gaps between merged
    # intervals (before the first, between consecutive, after the
    # last), each a slice of the original token array — O(doc length)
    # per row, no per-token set membership.
    gap_start = "CASE WHEN j = 0 THEN 1 ELSE element_at(iv, j).b + 1 END"
    gap_end = (
        "CASE WHEN j = size(iv) THEN size(w)"
        " ELSE element_at(iv, j + 1).a - 1 END"
    )
    gaps = F.expr(
        "flatten(transform(sequence(0, size(iv)),"
        f" j -> slice(w, {gap_start},"
        f" greatest(({gap_end}) - ({gap_start}) + 1, 0))))"
    )
    n_removed = F.expr("aggregate(iv, 0, (acc, x) -> acc + (x.b - x.a + 1))")
    return out.select(
        "doc_id",
        F.size("w").cast("bigint").alias("n_tokens"),
        n_removed.cast("bigint").alias("n_removed"),
        F.concat_ws(" ", gaps).alias("cleaned_text"),
    )


_Q187_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 120
  UNION ALL
  SELECT doc_id + 100000 AS doc_id,
         array_to_string(list_slice(string_split(text, ' '), 3, 100000), ' ') AS text
  FROM documents WHERE doc_id < 10
), {_MINHASH_CTES.replace("FROM documents", "FROM corpus")}, {_CAND_CTES},
truth AS (
  SELECT sa.doc_id AS doc_id_a, sb.doc_id AS doc_id_b
  FROM sh sa JOIN sh sb ON sa.doc_id < sb.doc_id
  WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
        / len(list_distinct(sa.shingles || sb.shingles)) >= 0.5
), det AS (
  SELECT doc_id_a, doc_id_b FROM cand
  JOIN sh sa ON sa.doc_id = cand.doc_id_a
  JOIN sh sb ON sb.doc_id = cand.doc_id_b
  WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
        / len(list_distinct(sa.shingles || sb.shingles)) >= 0.5
), hit AS (
  SELECT t.doc_id_a, t.doc_id_b FROM truth t
  JOIN det d ON d.doc_id_a = t.doc_id_a AND d.doc_id_b = t.doc_id_b
)
SELECT 'minhash_lsh' AS system,
  CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth_pairs,
  CAST((SELECT COUNT(*) FROM det) AS BIGINT) AS n_detected_pairs,
  CAST((SELECT COUNT(*) FROM truth) - (SELECT COUNT(*) FROM hit)
       AS BIGINT) AS n_missed,
  CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
        / (SELECT COUNT(*) FROM truth) AS recall
"""


@register("q187_dedup_metrics", oracle=_Q187_ORACLE, tags=("dedup", "llm"))
def q187_dedup_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-pipeline eval harness (q186's twin for near-dup
    detection): inject controlled near-duplicates (docs 0-9 copied
    with their first two words dropped — high but not total shingle
    overlap, the q103/q121 injected-defect pattern), define ground
    truth as exact-Jaccard ≥ 0.5 pairs on the injected corpus, and
    score the production MinHash-LSH candidate pipeline against it.
    One summary row: truth/detected/missed pair counts and recall —
    the number an LSH tuning loop (bands × rows, bucket cap) actually
    optimizes, recomputable after every re-tune.

    Plan shape: the eval slice is bounded (120 docs + 10 copies) so
    the exact-truth all-pairs stays oracle-scale by construction; the
    LSH side runs the full production path (capped buckets, verify
    join) on the PORTABLE hash family, so the oracle replays the
    whole pipeline — signatures, banding, cap-salting, verify — plus
    the ground-truth all-pairs, and the recall number itself
    hash-checks (round-6 conversion off the rows-only list; the q82
    oracle machinery, injected-corpus edition). pytest additionally
    pins the recall floor."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 120)
        .select("doc_id", "text")
    )
    copies = d.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("concat_ws(' ', slice(split(text, ' '), 3, 100000))").alias("text"),
    )
    corpus = d.unionByName(copies)
    sh = corpus.select("doc_id", word_shingles(F.col("text")).alias("sh"))
    a = sh.select(F.col("doc_id").alias("doc_id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_id_b"), F.col("sh").alias("sh_b"))
    # cache both pair sets: three count() actions would otherwise
    # re-run the all-pairs truth join and the full LSH pipeline each
    # (pair lists are eval-slice-sized — tiny)
    truth = (
        a.join(b, F.col("doc_id_a") < F.col("doc_id_b"))
        .filter(jaccard(F.col("sh_a"), F.col("sh_b")) >= 0.5)
        .select("doc_id_a", "doc_id_b")
        .cache()
    )
    detected = (
        minhash_candidate_pairs(corpus, threshold=0.5)
        .select("doc_id_a", "doc_id_b")
        .cache()
    )
    hit = truth.join(detected, ["doc_id_a", "doc_id_b"], "left_semi")
    try:
        n_truth = truth.count()
        n_detected = detected.count()
        n_hit = hit.count()
    finally:
        # release the pinned partitions — repeated harness invocations
        # in one long session must not accumulate dead cache entries
        truth.unpersist()
        detected.unpersist()
    return spark.createDataFrame(
        [
            (
                "minhash_lsh",
                n_truth,
                n_detected,
                n_truth - n_hit,
                # UNROUNDED: the same two ints divide to the bitwise-
                # identical IEEE double in both engines; rounding would
                # only add a half-grid tie class (q255 lesson)
                n_hit / n_truth if n_truth else None,
            )
        ],
        "system string, n_truth_pairs long, n_detected_pairs long, "
        "n_missed long, recall double",
    )


@register(
    "q207_split_leakage",
    oracle=f"""
WITH pairs AS ({_Q82_ORACLE}
), lab AS (
  SELECT jaccard,
    {sql_split_bucket("doc_id_a")} AS split_a,
    {sql_split_bucket("doc_id_b")} AS split_b
  FROM pairs
)
SELECT least(split_a, split_b) AS split_lo,
       greatest(split_a, split_b) AS split_hi,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       round(avg(jaccard), 6) AS avg_jaccard
FROM lab GROUP BY 1, 2
""",
    tags=("dedup", "llm", "pipeline"),
)
def q207_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage audit: the verified MinHash-LSH near-dup
    pairs (the q82 pipeline, unchanged) labeled by each side's
    deterministic split assignment (the q206 hash gate) and counted
    per split pair — any (train, test) row is literal evaluation
    leakage: a test document whose near-duplicate sits in training.
    This is the audit decontamination teams run BEFORE the split is
    blessed; because both the pairs and the split derive from content
    hashes, the whole audit is reproducible from the raw corpus.

    Scale shape: everything rides on the LSH pipeline's bounded work
    (bucket-cap salting, candidates ≪ N²); the split labels are
    map-side md5 gates on the pair frame, and the final agg is ≤6
    rows. Oracle: composes the SAME shared MinHash CTE fragment and
    the SAME split-rule fragment — neither boundary can drift."""
    pairs = minhash_candidate_pairs(load_table(spark, sf_dir, "documents"))
    lab = pairs.select(
        "jaccard",
        split_bucket("doc_id_a").alias("split_a"),
        split_bucket("doc_id_b").alias("split_b"),
    )
    return (
        lab.select(
            F.least("split_a", "split_b").alias("split_lo"),
            F.greatest("split_a", "split_b").alias("split_hi"),
            "jaccard",
        )
        .groupBy("split_lo", "split_hi")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
        )
    )


@register(
    "q243_duplicate_ngram_mass",
    oracle=f"""
WITH words AS (
  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
), tok AS (
  SELECT doc_id, source,
    {sql_portable_hash64(
        "w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] || ' ' ||"
        " w[i + 3] || ' ' || w[i + 4]"
    )} AS g
  FROM words, unnest(generate_series(1, len(w) - 4)) AS t(i)
), nd AS (
  SELECT g, COUNT(DISTINCT doc_id) AS n_docs FROM tok GROUP BY g
), sg AS (
  SELECT source, g, COUNT(*) AS occ FROM tok GROUP BY 1, 2
)
SELECT sg.source,
  CAST(SUM(occ) AS BIGINT) AS total_grams,
  CAST(SUM(CASE WHEN nd.n_docs > 1 THEN occ ELSE 0 END) AS BIGINT)
    AS dup_grams,
  round(CAST(SUM(CASE WHEN nd.n_docs > 1 THEN occ ELSE 0 END) AS DOUBLE)
        / SUM(occ), 6) AS dup_mass
FROM sg JOIN nd USING (g)
GROUP BY sg.source
""",
    tags=("dedup", "llm", "text"),
)
def q243_duplicate_ngram_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicate 5-gram mass: the fraction of word-5-gram
    OCCURRENCES whose gram appears in more than one document
    corpus-wide — the memorization-risk census (Lee et al. 2022 show
    repeated n-grams drive verbatim memorization). Unlike q81's
    doc-grain and q158/q171's span-grain dedup, this is the
    *pre-dedup sizing read*: a source with high dup_mass is where the
    span-rewrite (q171) will reclaim tokens, and the per-source split
    tells you which ingestion pipeline is re-crawling boilerplate.

    Plan shape: grams leave the scan as 8-byte portable hashes (60-bit
    md5 prefix; collision odds over even 10^12 grams stay
    ~5e-7 per q71b's analysis), so the corpus-wide shuffle moves
    (hash, doc_id, source) triples, never gram text. Two hash aggs —
    distinct-doc count per gram, occurrence count per (source, gram) —
    then a gram-keyed equi-join of the two reduced frames and a
    |sources|-row rollup. Nothing is pairwise; memory per task is
    bounded by the agg hash maps at gram grain, the same budget the
    MinHash shingle stage (dedup.py:129) already pays. Docs shorter
    than 5 words contribute no grams on either engine (empty
    generate_series / guarded sequence)."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", "source", F.split("text", " ").alias("w")
    ).filter(F.size("w") >= 5)
    tok = words.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "transform(sequence(0, size(w) - 5),"
                " i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]))"
            )
        ).alias("gram"),
    ).select("doc_id", "source", portable_hash64(F.col("gram")).alias("g"))
    nd = tok.groupBy("g").agg(F.countDistinct("doc_id").alias("n_docs"))
    sg = tok.groupBy("source", "g").agg(F.count(F.lit(1)).alias("occ"))
    dup_occ = F.sum(F.when(F.col("n_docs") > 1, F.col("occ")).otherwise(0))
    return (
        sg.join(nd, "g")
        .groupBy("source")
        .agg(
            F.sum("occ").cast("bigint").alias("total_grams"),
            dup_occ.cast("bigint").alias("dup_grams"),
            F.round(
                dup_occ.cast("double") / F.sum("occ"), 6
            ).alias("dup_mass"),
        )
    )


@register(
    "q247_template_prefix_census",
    oracle="""
WITH p AS (
  SELECT doc_id, source, w[1] || ' ' || w[2] AS prefix
  FROM (SELECT doc_id, source, string_split(text, ' ') AS w
        FROM documents)
  WHERE len(w) >= 2
)
SELECT prefix,
  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
FROM p GROUP BY prefix
HAVING COUNT(DISTINCT doc_id) > 1
""",
    tags=("dedup", "llm", "text"),
)
def q247_template_prefix_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-prefix census: opening 2-grams shared by more than one
    document, with how many docs and how many SOURCES open with them.
    Boilerplate headers ("subscribe to our", "terms of service") are
    the highest-yield span-dedup targets and the classic crawl
    artifact; a prefix spanning many sources is template text the
    span rewriter (q171) should treat as a corpus-wide span, not a
    per-source quirk. Complements q243 (which weighs ALL duplicated
    grams) by isolating the document-initial position where templates
    live.

    Plan shape: one prefix per document leaves the scan map-side (two
    array probes, no explode), then a single hash agg at prefix grain
    with two count-distincts over domain-bounded inputs (docs per
    prefix, sources per prefix). Prefix grain is bounded by vocab² in
    the worst case and by observed openings in practice — far below
    corpus grain; the >1 filter drops the unique mass before the
    result materializes. No joins, no windows, one shuffle."""
    d = load_table(spark, sf_dir, "documents")
    p = (
        d.select("doc_id", "source", F.split("text", " ").alias("w"))
        .filter(F.size("w") >= 2)
        .select(
            "doc_id",
            "source",
            F.concat_ws(" ", F.col("w")[0], F.col("w")[1]).alias("prefix"),
        )
    )
    return (
        p.groupBy("prefix")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
        )
        .filter(F.col("n_docs") > 1)
    )


@register(
    "q253_dedup_threshold_curve",
    oracle="""
WITH s AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
         list_distinct(list_transform(
           range(1, greatest(len(string_split(text, ' ')) - 1, 2)),
           i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')
         )) AS sh
  FROM documents WHERE doc_id < 120
), pairs AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / len(list_distinct(a.sh || b.sh)) AS jac,
    least(a.n_tokens, b.n_tokens) AS min_tokens
  FROM s a JOIN s b ON a.doc_id < b.doc_id
), th AS (SELECT unnest([0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS threshold),
hit AS (
  SELECT th.threshold, p.doc_id_a, p.doc_id_b, p.min_tokens
  FROM pairs p CROSS JOIN th WHERE p.jac >= th.threshold
), pair_stats AS (
  SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs,
    CAST(SUM(min_tokens) AS BIGINT) AS dup_token_mass
  FROM hit GROUP BY threshold
), doc_stats AS (
  SELECT threshold, CAST(COUNT(DISTINCT d) AS BIGINT) AS n_docs
  FROM (SELECT threshold, doc_id_a AS d FROM hit
        UNION ALL SELECT threshold, doc_id_b FROM hit)
  GROUP BY threshold
)
SELECT t.threshold,
  COALESCE(p.n_pairs, 0) AS n_pairs,
  COALESCE(d.n_docs, 0) AS n_docs,
  COALESCE(p.dup_token_mass, 0) AS dup_token_mass
FROM th t
LEFT JOIN pair_stats p USING (threshold)
LEFT JOIN doc_stats d USING (threshold)
""",
    tags=("dedup", "llm"),
)
def q253_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup operating curve: for each Jaccard threshold 0.3–0.9, how
    many near-dup pairs fire, how many documents they touch, and the
    duplicated token mass (Σ min(tokens) per pair — the upper bound on
    what removal reclaims). THE threshold-picking artifact: q82 runs at
    a fixed 0.5, this table shows what moving the dial buys or costs.
    Computed on the same deterministic 120-doc exact-Jaccard slice as
    q82b (the oracle must run the all-pairs too); at production scale
    the identical curve runs over q82's LSH candidate pairs instead —
    candidates are a superset of every threshold ≥ the banding design
    point, so the curve is exact there, and the pair volume is the
    LSH-bounded one, never all-pairs.

    Plan shape: all-pairs only within the fixed slice (bounded by
    construction), thresholds are a 7-row broadcast spine, and both
    rollups (pair stats, distinct-doc stats via a 2×union) group on the
    7-value threshold key. Jaccard is an exact int/int ratio —
    raw-threshold comparison is engine-stable (q82's contract)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    s = d.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
        word_shingles(F.col("text")).alias("sh"),
    )
    a = s.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("n_tokens").alias("nt_a"),
        F.col("sh").alias("sh_a"),
    )
    b = s.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("n_tokens").alias("nt_b"),
        F.col("sh").alias("sh_b"),
    )
    pairs = a.join(b, F.col("doc_id_a") < F.col("doc_id_b")).select(
        "doc_id_a",
        "doc_id_b",
        jaccard(F.col("sh_a"), F.col("sh_b")).alias("jac"),
        F.least("nt_a", "nt_b").alias("min_tokens"),
    )
    th = spark.createDataFrame(
        [(t,) for t in (0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)],
        "threshold double",
    )
    hit = pairs.crossJoin(F.broadcast(th)).filter(
        F.col("jac") >= F.col("threshold")
    )
    pair_stats = hit.groupBy("threshold").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("min_tokens").cast("bigint").alias("dup_token_mass"),
    )
    doc_stats = (
        hit.select("threshold", F.col("doc_id_a").alias("d"))
        .unionAll(hit.select("threshold", F.col("doc_id_b").alias("d")))
        .groupBy("threshold")
        .agg(F.countDistinct("d").cast("bigint").alias("n_docs"))
    )
    return (
        th.join(pair_stats, "threshold", "left")
        .join(doc_stats, "threshold", "left")
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
            F.coalesce("dup_token_mass", F.lit(0)).alias("dup_token_mass"),
        )
    )


@register(
    "q262_positional_dup_mass",
    oracle=f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), tok AS (
  SELECT doc_id,
    CASE WHEN i - 1 < (len(w) - 4) / 3.0 THEN 'head'
         WHEN i - 1 < 2 * (len(w) - 4) / 3.0 THEN 'middle'
         ELSE 'tail' END AS tercile,
    {sql_portable_hash64(
        "w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] || ' ' ||"
        " w[i + 3] || ' ' || w[i + 4]"
    )} AS g
  FROM words, unnest(generate_series(1, len(w) - 4)) AS t(i)
), nd AS (
  SELECT g, COUNT(DISTINCT doc_id) AS n_docs FROM tok GROUP BY g
), tg AS (
  SELECT tercile, g, COUNT(*) AS occ FROM tok GROUP BY 1, 2
)
SELECT tg.tercile,
  CAST(SUM(occ) AS BIGINT) AS total_grams,
  CAST(SUM(CASE WHEN nd.n_docs > 1 THEN occ ELSE 0 END) AS BIGINT)
    AS dup_grams,
  round(CAST(SUM(CASE WHEN nd.n_docs > 1 THEN occ ELSE 0 END) AS DOUBLE)
        / SUM(occ), 6) AS dup_mass
FROM tg JOIN nd USING (g)
GROUP BY tg.tercile
""",
    tags=("dedup", "llm", "text"),
)
def q262_positional_dup_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE in documents does duplicated text live: q243's duplicate
    5-gram occurrence mass split by document position (head / middle /
    tail terciles of each doc's gram sequence). Boilerplate headers and
    footers concentrate duplication at the ends — a head/tail-heavy
    profile says a cheap affix-trim recovers most of what full span
    dedup (q171) would, while a flat profile says duplication is
    structural and only the real rewriter helps. The positional read
    that turns q243's "how much" into "what to do about it".

    Plan shape: identical to q243 — gram-grain portable hashes, one
    distinct-doc count per gram, one occurrence count per (tercile,
    gram), a gram-keyed join of the two reduced frames, 3-row rollup.
    The tercile compares the integer gram index against n/3.0 in the
    IDENTICAL expression form on both engines — an exact-input double
    comparison that cannot drift."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.split("text", " ").alias("w")).filter(
        F.size("w") >= 5
    )
    tok = words.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(w) - 5),"
                " i -> struct(i AS pos, size(w) - 4 AS n,"
                " concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4])"
                " AS gram))"
            )
        ).alias("p"),
    ).select(
        "doc_id",
        F.when(F.col("p.pos") < F.col("p.n") / 3.0, "head")
        .when(F.col("p.pos") < 2 * F.col("p.n") / 3.0, "middle")
        .otherwise("tail")
        .alias("tercile"),
        portable_hash64(F.col("p.gram")).alias("g"),
    )
    nd = tok.groupBy("g").agg(F.countDistinct("doc_id").alias("n_docs"))
    tg = tok.groupBy("tercile", "g").agg(F.count(F.lit(1)).alias("occ"))
    dup = F.sum(F.when(F.col("n_docs") > 1, F.col("occ")).otherwise(0))
    return (
        tg.join(nd, "g")
        .groupBy("tercile")
        .agg(
            F.sum("occ").cast("bigint").alias("total_grams"),
            dup.cast("bigint").alias("dup_grams"),
            F.round(dup.cast("double") / F.sum("occ"), 6).alias("dup_mass"),
        )
    )


_Q268_ORACLE = f"""
WITH {_MINHASH_CTES}, {_CAND_CTES}
SELECT doc_id_a, doc_id_b,
  CAST(len(list_filter(range(0, 32),
           h -> ga.sig[h + 1] = gb.sig[h + 1])) AS BIGINT) AS sig_agree,
  round(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
        / len(list_distinct(sa.shingles || sb.shingles)), 6) AS jaccard,
  abs(CAST(len(list_filter(range(0, 32),
          h -> ga.sig[h + 1] = gb.sig[h + 1])) AS DOUBLE) / 32
      - CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
        / len(list_distinct(sa.shingles || sb.shingles))) <= 0.25
    AS within_bound
FROM cand
JOIN sh sa ON sa.doc_id = cand.doc_id_a
JOIN sh sb ON sb.doc_id = cand.doc_id_b
JOIN sig ga ON ga.doc_id = cand.doc_id_a
JOIN sig gb ON gb.doc_id = cand.doc_id_b
"""


@register("q268_minhash_estimator_audit", oracle=_Q268_ORACLE, tags=("dedup", "llm"))
def q268_minhash_estimator_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ESTIMATOR accuracy audit: for every LSH candidate pair,
    the signature agreement count (matching positions out of 32 — the
    MinHash estimate of Jaccard in 32nds) next to the exact Jaccard,
    plus the |estimate − exact| ≤ 0.25 bound check. Complements q187
    (candidate RECALL vs exact ground truth) with estimator BIAS — the
    audit that justifies num_hashes=32: if agreement/32 drifted from
    exact J, the banding-probability math behind the q253 threshold
    curve would be fiction. Candidates (not just verified pairs) keep
    low-J false positives in the sample, so the estimator is audited
    across the J spectrum, not only where it flatters.

    Scale shape: identical candidate machinery as q82 (shared
    _lsh_candidate_pairs_frame — cap-salted buckets, bounded pair
    work); signatures recomputed map-side from the same pure portable
    hash chain; the audit joins are doc_id-keyed hash joins on the
    bounded candidate set. sig_agree/32 is exact in binary (5-bit
    fraction) and exact J is a single correctly-rounded division, so
    the boolean is engine-identical."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cand, sh = _lsh_candidate_pairs_frame(docs)
    sigf = _with_base_hashes(sh, "shingles").select(
        "doc_id",
        minhash_from_base_hashes(F.col("_hm"), 32).alias("sig"),
        "shingles",
    )
    sa = sigf.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("sig").alias("sig_a"),
        F.col("shingles").alias("sh_a"),
    )
    sb = sigf.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("sig").alias("sig_b"),
        F.col("shingles").alias("sh_b"),
    )
    agree = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    jac = jaccard(F.col("sh_a"), F.col("sh_b"))
    return (
        cand.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            agree.cast("bigint").alias("sig_agree"),
            F.round(jac, 6).alias("jaccard"),
            (F.abs(agree.cast("double") / 32 - jac) <= 0.25).alias(
                "within_bound"
            ),
        )
    )


_Q269_ORACLE = f"""
WITH {_MINHASH_CTES}, {_CAND_CTES}, pj AS (
  SELECT cand.doc_id_b AS doc_id,
         MAX(CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
             / len(list_distinct(sa.shingles || sb.shingles))) AS mp
  FROM cand
  JOIN sh sa ON sa.doc_id = cand.doc_id_a
  JOIN sh sb ON sb.doc_id = cand.doc_id_b
  GROUP BY 1
)
SELECT d.doc_id,
  round(COALESCE(pj.mp, 0), 6) AS max_prior_jaccard,
  COALESCE(pj.mp, 0) < 0.5 AS novel
FROM documents d LEFT JOIN pj ON pj.doc_id = d.doc_id
"""


@register("q269_crawl_novelty", oracle=_Q269_ORACLE, tags=("dedup", "llm"))
def q269_crawl_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-order NOVELTY score: for every document, the maximum exact
    Jaccard against any EARLIER document (doc_id order = ingest order)
    among its LSH candidates, and the novel flag (max < 0.5). This is
    the score a crawl frontier uses to decide whether a fetched page
    adds anything — the online framing of the same dedup decision q82
    makes in batch (candidate pairs are a<b by construction, so
    grouping pairs by the LATER doc gives each doc its
    best-prior-match). Docs with no candidate score 0 — novel by LSH's
    own recall guarantee (q187 audits that guarantee).

    Scale shape: shares _lsh_candidate_pairs_frame (cap-salted
    buckets, bounded pair work), one doc_id_b-grain agg over the
    candidate set, then a left join back to the corpus id list —
    word-count-shaped all the way. The novelty threshold compares the
    RAW max ratio (exact division, engine-identical) and rounds only
    for display."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cand, sh = _lsh_candidate_pairs_frame(docs)
    sa = sh.select(F.col("doc_id").alias("doc_id_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_id_b"), F.col("shingles").alias("sh_b"))
    jac = jaccard(F.col("sh_a"), F.col("sh_b"))
    prior = (
        cand.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .groupBy("doc_id_b")
        .agg(F.max(jac).alias("mp"))
    )
    return (
        docs.select("doc_id")
        .join(prior, docs.doc_id == prior.doc_id_b, "left")
        .select(
            "doc_id",
            F.round(F.coalesce(F.col("mp"), F.lit(0.0)), 6).alias(
                "max_prior_jaccard"
            ),
            (F.coalesce(F.col("mp"), F.lit(0.0)) < 0.5).alias("novel"),
        )
    )


@register(
    "q285_doc_containment_pairs",
    oracle=f"""
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 5
), post AS (
  SELECT DISTINCT doc_id,
    {sql_portable_hash64(
        "w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] || ' ' ||"
        " w[i + 3] || ' ' || w[i + 4]"
    )} AS g
  FROM words, unnest(generate_series(1, len(w) - 4)) AS t(i)
), sz AS (
  SELECT doc_id, COUNT(*) AS sz FROM post GROUP BY doc_id
), anch AS (
  SELECT doc_id, MIN(g) AS a FROM post GROUP BY doc_id
), cand AS (
  SELECT x.doc_id AS da, y.doc_id AS db
  FROM anch x JOIN anch y ON x.a = y.a AND x.doc_id < y.doc_id
), inter AS (
  SELECT c.da, c.db, COUNT(*) AS n
  FROM cand c
  JOIN post pa ON pa.doc_id = c.da
  JOIN post pb ON pb.doc_id = c.db AND pb.g = pa.g
  GROUP BY 1, 2
), m AS (
  SELECT i.da, i.db, i.n, sa.sz AS sza, sb.sz AS szb
  FROM inter i
  JOIN sz sa ON sa.doc_id = i.da
  JOIN sz sb ON sb.doc_id = i.db
)
SELECT da AS doc_id_a, db AS doc_id_b,
  round(CAST(n AS DOUBLE) / sza, 6) AS containment_ab,
  round(CAST(n AS DOUBLE) / szb, 6) AS containment_ba,
  round(CAST(n AS DOUBLE) / (sza + szb - n), 6) AS jaccard,
  (CAST(n AS DOUBLE) / least(sza, szb) >= 0.9
   AND CAST(n AS DOUBLE) / (sza + szb - n) < 0.6) AS subset_flag
FROM m
WHERE CAST(n AS DOUBLE) / least(sza, szb) >= 0.5
""",
    tags=("dedup", "llm"),
)
def q285_doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment (asymmetric Jaccard) pairs — SUBSET/mirror detection
    that resemblance misses: a doc pasted inside a 10× larger one has
    tiny Jaccard but containment ≈ 1 from the small side. Candidates
    pair on their hash-least 5-gram shingle (one anchor per doc, so
    candidate groups are exact/near-dup families, never all-pairs),
    then exact distinct-shingle intersections score containment both
    directions; pairs with max-containment ≥ 0.5 surface, and
    ``subset_flag`` marks the mirror signature (containment ≥ 0.9
    while Jaccard < 0.6). Thresholds compare RAW ratios — rounding
    happens only in the final projection (the boundary-row contract).

    Scale shape: shingles leave the scan as 8-byte portable hashes;
    the anchor agg, candidate self-join (anchor-keyed) and
    intersection join (doc-keyed postings) are all equi-joins on
    reduced frames. Production hardening for adversarial anchor
    collisions = cap_groups on the anchor buckets (the q82 LSH
    bucket-cap discipline); the fixture's families are edit-dup
    sized, so the uncapped form is what the oracle replays."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select("doc_id", F.split("text", " ").alias("w")).filter(
        F.size("w") >= 5
    )
    post = (
        words.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(w) - 5),"
                    " i -> concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]))"
                )
            ).alias("gram"),
        )
        .select("doc_id", portable_hash64(F.col("gram")).alias("g"))
        .distinct()
        # the postings frame (explode + md5 + distinct shuffle) feeds
        # FOUR consumers (sizes, anchors, both intersection arms) —
        # pin it or the shingle digest re-runs per arm (62 s → re-probe
        # after pinning at the 20× replica). Lazy: plan-building never
        # executes it.
        .transform(lambda d: checkpoint_df(d, eager=False))
    )
    sz = post.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    anch = post.groupBy("doc_id").agg(F.min("g").alias("a"))
    cand = (
        anch.alias("x")
        .join(anch.alias("y"), "a")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("da"), F.col("y.doc_id").alias("db")
        )
    )
    pa = post.select(F.col("doc_id").alias("da"), "g")
    pb = post.select(F.col("doc_id").alias("db"), "g")
    inter = (
        cand.join(pa, "da").join(pb, ["db", "g"]).groupBy("da", "db").agg(
            F.count(F.lit(1)).alias("n")
        )
    )
    m = (
        inter.join(sz.select(F.col("doc_id").alias("da"), F.col("sz").alias("sza")), "da")
        .join(sz.select(F.col("doc_id").alias("db"), F.col("sz").alias("szb")), "db")
    )
    nd = F.col("n").cast("double")
    jac = nd / (F.col("sza") + F.col("szb") - F.col("n"))
    cmax = nd / F.least("sza", "szb")
    return m.filter(cmax >= 0.5).select(
        F.col("da").alias("doc_id_a"),
        F.col("db").alias("doc_id_b"),
        F.round(nd / F.col("sza"), 6).alias("containment_ab"),
        F.round(nd / F.col("szb"), 6).alias("containment_ba"),
        F.round(jac, 6).alias("jaccard"),
        ((cmax >= 0.9) & (jac < 0.6)).alias("subset_flag"),
    )


_Q288_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 500000 AS doc_id, text || ' qzx qzx' AS text
  FROM documents WHERE doc_id < 20
), {_minhash_ctes("docs")}, idx AS (
  SELECT band, band_hash, doc_id AS corpus_doc_id FROM (
    SELECT band, band_hash, doc_id,
           row_number() OVER (PARTITION BY band, band_hash
                              ORDER BY doc_id) AS rk
    FROM banded WHERE doc_id < 400)
  WHERE rk <= 64
), cand AS (
  SELECT DISTINCT n.doc_id AS new_doc_id, idx.corpus_doc_id
  FROM (SELECT * FROM banded WHERE doc_id >= 400) n
  JOIN idx USING (band, band_hash)
), verified AS (
  SELECT new_doc_id, corpus_doc_id,
    round(CAST(len(list_intersect(sn.shingles, sc.shingles)) AS DOUBLE)
          / len(list_distinct(sn.shingles || sc.shingles)), 6) AS jaccard
  FROM cand
  JOIN sh sn ON sn.doc_id = cand.new_doc_id
  JOIN sh sc ON sc.doc_id = cand.corpus_doc_id
  WHERE CAST(len(list_intersect(sn.shingles, sc.shingles)) AS DOUBLE)
        / len(list_distinct(sn.shingles || sc.shingles)) >= 0.5
), best AS (
  SELECT new_doc_id, corpus_doc_id, jaccard FROM (
    SELECT *, row_number() OVER (PARTITION BY new_doc_id
                                 ORDER BY jaccard DESC, corpus_doc_id) AS rk
    FROM verified)
  WHERE rk = 1
)
SELECT d.doc_id AS new_doc_id, b.corpus_doc_id, b.jaccard,
  CAST(CASE WHEN b.corpus_doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT) AS is_dup
FROM (SELECT doc_id FROM docs WHERE doc_id >= 400) d
LEFT JOIN best b ON b.new_doc_id = d.doc_id
"""


@register(
    "q288_snapshot_incremental_neardup",
    oracle=_Q288_ORACLE,
    tags=("dedup", "llm", "versioning"),
)
def q288_snapshot_incremental_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-SNAPSHOT incremental near-dup (VERDICT r06 ask #4a — the
    100 TB daily-arrival dedup story): the corpus lands as snapshot v1
    of a versioned table, a new crawl batch (novel docs + injected
    near-copies of corpus docs) arrives as an append commit v2, and the
    batch is deduped against v1's MinHash-LSH index reading ONLY the
    delta files via ``changes(1)`` — never re-scanning the corpus. The
    same q82/q131 portable machinery, composed with versioning the way
    q271 composed IVF maintenance: index once, dedup each arrival at
    |batch| cost.

    Oracle replays the whole pipeline (injection, shingling, portable
    MinHash, capped postings, candidate join, exact-Jaccard verify,
    best-match) in DuckDB — the snapshot plumbing changes WHERE bytes
    are read, never the answer, which is exactly the property this
    query attests.

    Scale shape: the index build is q82's (banded postings, capped at
    64/bucket); the per-arrival cost is |batch postings| ⋈ index plus
    text verification on |candidates| corpus rows. The v1 index would
    be persisted bucketed by (band, band_hash) in production; here it
    is rebuilt per run because the fixture corpus is tiny."""
    import os

    from ..versioning import VersionedTable, session_fixture_dir

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") < 400)
    injected = d.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qzx qzx")).alias("text"),
    )
    batch = d.filter(F.col("doc_id") >= 400).unionAll(injected)

    vt = VersionedTable(
        spark, os.path.join(session_fixture_dir(spark, "q288_crawl"), "docs")
    )
    vt.write(corpus, "append")  # v1: the indexed corpus
    vt.write(batch, "append")  # v2: the new crawl arrival
    corpus_v1 = vt.read(version=1)
    delta = vt.changes(1).select("doc_id", "text")  # only v2's files

    idx = build_lsh_index(corpus_v1)
    return incremental_neardup(idx, corpus_v1, delta)


_Q289_URL_SYNTH = """
    CASE doc_id % 5
      WHEN 0 THEN 'https://news.example.com/' || lang || '/article-'
                  || CAST(doc_id % 150 AS VARCHAR)
      WHEN 1 THEN 'https://www.news.example.com/' || lang || '/article-'
                  || CAST(doc_id % 150 AS VARCHAR)
      WHEN 2 THEN 'http://news.example.com:80/' || lang || '/article-'
                  || CAST(doc_id % 150 AS VARCHAR) || '/'
      WHEN 3 THEN 'https://News.Example.COM/' || lang || '/article-'
                  || CAST(doc_id % 150 AS VARCHAR)
                  || '?utm_source=rss&utm_medium=feed'
      ELSE 'https://news.example.com/' || lang || '/article-'
           || CAST(doc_id % 150 AS VARCHAR) || '/?ref=home&page=2#sec-2'
    END
"""

_Q289_ORACLE = f"""
WITH u AS (
  SELECT doc_id, n_chars, {_Q289_URL_SYNTH} AS url FROM documents
), c AS (
  SELECT doc_id, n_chars,
    regexp_replace(regexp_replace(
      lower(regexp_extract(url, '^[a-z]+://([^/?#]+)', 1)),
      '^www\\.', ''), ':(80|443)$', '') AS host,
    regexp_replace(
      regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1), '/+$', '') AS path,
    regexp_replace(regexp_replace(
      regexp_extract(url, '\\?([^#]*)', 1),
      '(^|&)(utm_[a-z]+|ref)=[^&]*', '', 'g'), '^&+', '') AS q
  FROM u
), canon AS (
  SELECT doc_id, n_chars,
    host || path || (CASE WHEN q <> '' THEN '?' || q ELSE '' END)
      AS canonical_url
  FROM c
), r AS (
  SELECT canonical_url, doc_id, n_chars,
    row_number() OVER (PARTITION BY canonical_url
                       ORDER BY n_chars DESC, doc_id) AS rk,
    COUNT(*) OVER (PARTITION BY canonical_url) AS n_variants
  FROM canon
)
SELECT canonical_url, doc_id AS keep_doc_id,
  CAST(n_variants AS BIGINT) AS n_variants,
  CAST(n_chars AS BIGINT) AS best_chars
FROM r WHERE rk = 1
"""


@register(
    "q289_url_canonical_dedup",
    oracle=_Q289_ORACLE,
    tags=("dedup", "llm"),
)
def q289_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/metadata canonicalization dedup (VERDICT r06 ask #4c — the
    CCNet-style public-pipeline dedup axis the corpus ops didn't yet
    cover): crawl records that differ only in URL DECORATION (scheme,
    www prefix, default port, trailing slash, host case, tracking
    params, fragments) are one document; canonicalize, group, keep the
    best representative (longest text, smallest id tiebreak).

    Canonicalization kernel — pure string expressions, identical regex
    family on both engines:
      host  → lower, strip leading 'www.', strip ':80'/':443'
      path  → strip trailing '/'
      query → drop utm_*/ref tracking params, KEEP meaningful params
              (a '?page=2' variant stays a distinct canonical URL),
              drop '#fragment'

    The fixture has no URL column, so one is SYNTHESIZED
    deterministically per doc (5 decoration variants over a shared
    (lang, doc_id%150) article key) — mirrored verbatim in the oracle,
    so the hash row attests the canonicalizer, not the synthesis.

    Scale shape: map-only canonicalization (whole-stage codegen, no
    UDF) + one hash agg on the canonical key — the word-count shape;
    at 100 TB the only knob is regex cost per row."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    u = d.withColumn("url", F.expr(_Q289_URL_SYNTH.replace("VARCHAR", "STRING")))
    host = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_extract("url", r"^[a-z]+://([^/?#]+)", 1)),
            r"^www\.",
            "",
        ),
        r":(80|443)$",
        "",
    )
    path = F.regexp_replace(
        F.regexp_extract("url", r"^[a-z]+://[^/?#]+([^?#]*)", 1), r"/+$", ""
    )
    q = F.regexp_replace(
        F.regexp_replace(
            F.regexp_extract("url", r"\?([^#]*)", 1),
            r"(^|&)(utm_[a-z]+|ref)=[^&]*",
            "",
        ),
        r"^&+",
        "",
    )
    canon = u.select(
        "doc_id",
        "n_chars",
        F.concat(
            host,
            path,
            F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
        ).alias("canonical_url"),
    )
    w = Window.partitionBy("canonical_url").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    wc = Window.partitionBy("canonical_url")
    return (
        canon.withColumn("rk", F.row_number().over(w))
        .withColumn("n_variants", F.count(F.lit(1)).over(wc))
        .filter(F.col("rk") == 1)
        .select(
            "canonical_url",
            F.col("doc_id").alias("keep_doc_id"),
            F.col("n_variants").cast("bigint").alias("n_variants"),
            F.col("n_chars").cast("bigint").alias("best_chars"),
        )
    )


_Q302_ORACLE = """
WITH corpus AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + 600000 AS doc_id, 'mirror' AS source, text
  FROM documents WHERE doc_id < 25
),
h AS (SELECT doc_id, source, md5(text) AS cluster_hash FROM corpus),
g AS (
  SELECT cluster_hash,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
    CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id
  FROM h GROUP BY cluster_hash
  HAVING COUNT(*) > 1
)
SELECT cluster_hash, n_docs, n_sources, keep_doc_id,
  (n_sources > 1) AS cross_source
FROM g
"""


@register(
    "q302_cross_source_dups",
    oracle=_Q302_ORACLE,
    tags=("dedup", "llm"),
)
def q302_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source exact-duplicate PROVENANCE census — the syndication
    /mirror-site signal (the same article crawled from N hosts) that
    dedup pipelines use both to drop copies and to weight trust in a
    source: per duplicate text cluster, how many copies, how many
    DISTINCT sources, which doc to keep (min id), and whether the
    cluster crosses sources at all. The fixture corpus has zero
    natural byte-identical dups (profiled), so a deterministic
    'mirror' source re-publishing docs 0-24 is injected — mirrored
    verbatim in the oracle, so the hash row attests the census, not
    the synthesis.

    Scale shape: one md5 per doc (map-side), one hash agg on the
    digest — q81's exact-dedup shape plus a COUNT(DISTINCT source)
    that stays inside the same two-phase agg."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    mirror = d.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 600000).alias("doc_id"),
        F.lit("mirror").alias("source"),
        "text",
    )
    corpus = d.unionAll(mirror)
    return (
        corpus.select("doc_id", "source", F.md5("text").alias("cluster_hash"))
        .groupBy("cluster_hash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.min("doc_id").cast("bigint").alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
        .withColumn("cross_source", F.col("n_sources") > 1)
    )


def _q321_band_expr(bands: int) -> str:
    """DuckDB banding over the shared ``sig`` CTE for one (bands,
    rows=32/bands) config — the same portable band hash as
    _minhash_ctes but parametric in the split."""
    rows = 32 // bands
    inner = (
        f"array_to_string(list_transform("
        f"list_slice(sig, b * {rows} + 1, b * {rows} + {rows}), "
        f"x -> CAST(x AS VARCHAR)), ',')"
    )
    return f"""
  SELECT {bands} AS bands, doc_id, b AS band, {sql_portable_hash64(inner)} AS bh
  FROM sig, (SELECT unnest(range(0, {bands})) AS b) bs"""


_Q321_ORACLE = f"""
WITH {_minhash_ctes()}, bx AS (
{_q321_band_expr(4)}
  UNION ALL
{_q321_band_expr(8)}
  UNION ALL
{_q321_band_expr(16)}
),
sizes AS (
  SELECT bands, band, bh, COUNT(*) AS n FROM bx GROUP BY bands, band, bh
)
SELECT bands, CAST(32 / bands AS BIGINT) AS rows_per_band,
  CAST(COUNT(CASE WHEN n > 1 THEN 1 END) AS BIGINT) AS nonsingleton_buckets,
  CAST(SUM(n * (n - 1) / 2) AS BIGINT) AS candidate_pair_mass,
  CAST(MAX(n) AS BIGINT) AS max_bucket
FROM sizes GROUP BY bands
"""


@register(
    "q321_lsh_band_tradeoff",
    oracle=_Q321_ORACLE,
    tags=("dedup", "llm"),
)
def q321_lsh_band_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding TRADEOFF table — the tuning measurement behind
    q82's 8×4 choice, computed from the data instead of asserted: for
    (bands×rows) ∈ {{4×8, 8×4, 16×2}} over the SAME 32-hash portable
    signatures, the realized candidate-pair mass Σ C(bucket, 2), the
    non-singleton bucket count, and the worst bucket. More bands =
    higher recall AND quadratically more candidate pairs — this query
    is the measured curve an operator reads before re-banding a 100 TB
    index (the threshold-side twin is q253's curve).

    Signatures are computed ONCE and banded three ways map-side; cost
    is the census aggs over postings — never a pair join (the mass is
    counted from bucket sizes, not materialized). Single-pass shape
    (round-7 20× probe catch): the first cut banded via a 3-branch
    UNION over a lazily-checkpointed signature frame — but union
    branches execute as CONCURRENT scans in one job, so each branch
    re-computed the 32-hash signatures before any checkpoint partition
    landed (250 s at 20×; the q285 lazy-checkpoint fix only pays off
    when arms materialize sequentially). Concatenating all three
    configs' band arrays into ONE explode scans the corpus exactly
    once — no checkpoint, no union: 30 s at the same replica."""
    d = load_table(spark, sf_dir, "documents")
    # Same undersplit guard as _lsh_candidate_pairs_frame: the md5
    # base-hash map is the CPU stage, and a 4-file fixture scan would
    # otherwise serialize it on 4 of 32 cores (the other half of the
    # round-7 250 s probe catch). r10: shared hash-keyed guard.
    d = rebalance_if_undersplit(d, F.col("doc_id"))
    sh = _with_base_hashes(
        d.select("doc_id", word_shingles(F.col("text"), 3).alias("shingles")),
        "shingles",
    )
    def _tagged(bands: int):
        # NB: the transform lambda must stay single-arg — a second
        # parameter makes Spark pass the ARRAY INDEX into it
        return F.transform(
            lsh_bands(F.col("sig"), bands, 32 // bands),
            lambda s: F.struct(
                F.lit(bands).alias("bands"),
                s["band"].alias("band"),
                s["band_hash"].alias("bh"),
            ),
        )

    all_bands = F.concat(*[_tagged(bands) for bands in (4, 8, 16)])
    bx = (
        sh.select(
            "doc_id", minhash_from_base_hashes(F.col("_hm"), 32).alias("sig")
        )
        .select("doc_id", F.explode(all_bands).alias("tb"))
        .select(
            F.col("tb.bands").alias("bands"),
            "doc_id",
            F.col("tb.band").alias("band"),
            F.col("tb.bh").alias("bh"),
        )
    )
    sizes = bx.groupBy("bands", "band", "bh").agg(
        F.count(F.lit(1)).alias("n")
    )
    return sizes.groupBy("bands").agg(
        F.count(F.when(F.col("n") > 1, 1)).cast("bigint").alias(
            "nonsingleton_buckets"
        ),
        F.sum(F.col("n") * (F.col("n") - 1) / 2).cast("bigint").alias(
            "candidate_pair_mass"
        ),
        F.max("n").cast("bigint").alias("max_bucket"),
    ).select(
        "bands",
        (F.lit(32) / F.col("bands")).cast("bigint").alias("rows_per_band"),
        "nonsingleton_buckets",
        "candidate_pair_mass",
        "max_bucket",
    )


_Q330_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 600000 AS doc_id, text || ' vbn vbn' AS text
  FROM documents WHERE doc_id < 30
), {_minhash_ctes("docs")}, idx AS (
  SELECT band, band_hash, doc_id AS corpus_doc_id FROM (
    SELECT band, band_hash, doc_id,
           row_number() OVER (PARTITION BY band, band_hash
                              ORDER BY doc_id) AS rk
    FROM banded WHERE doc_id < 450)
  WHERE rk <= 64
), cand AS (
  SELECT DISTINCT n.doc_id AS new_doc_id, idx.corpus_doc_id
  FROM (SELECT * FROM banded WHERE doc_id >= 450) n
  JOIN idx USING (band, band_hash)
), verified AS (
  SELECT new_doc_id, corpus_doc_id,
    round(CAST(len(list_intersect(sn.shingles, sc.shingles)) AS DOUBLE)
          / len(list_distinct(sn.shingles || sc.shingles)), 6) AS jaccard
  FROM cand
  JOIN sh sn ON sn.doc_id = cand.new_doc_id
  JOIN sh sc ON sc.doc_id = cand.corpus_doc_id
  WHERE CAST(len(list_intersect(sn.shingles, sc.shingles)) AS DOUBLE)
        / len(list_distinct(sn.shingles || sc.shingles)) >= 0.5
), best AS (
  SELECT new_doc_id, corpus_doc_id, jaccard FROM (
    SELECT *, row_number() OVER (PARTITION BY new_doc_id
                                 ORDER BY jaccard DESC, corpus_doc_id) AS rk
    FROM verified)
  WHERE rk = 1
)
SELECT d.doc_id AS new_doc_id, b.corpus_doc_id, b.jaccard,
  CAST(CASE WHEN b.corpus_doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT)
    AS is_dup,
  TRUE AS idx_exchange_free
FROM (SELECT doc_id FROM docs WHERE doc_id >= 450) d
LEFT JOIN best b ON b.new_doc_id = d.doc_id
"""


@register(
    "q330_bucketed_incremental_neardup",
    oracle=_Q330_ORACLE,
    tags=("dedup", "llm", "bucketing"),
)
def q330_bucketed_incremental_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Zero-exchange incremental near-dup against a PERSISTED bucketed
    LSH index (VERDICT r07 ask #2 — the missing last step of the
    100 TB daily-dedup story q288 started): the corpus band postings
    are written ONCE as a managed table ``bucketBy(16, band,
    band_hash)`` + ``sortBy`` — the exact key every arrival batch
    joins on — so the daily dedup job reads index bucket i straight
    into the task that probes it: the index side of the candidate
    join plans NO shuffle Exchange, ever, and at 100 TB that is the
    difference between re-shuffling a corpus-sized posting table per
    arrival and touching only |batch| bytes.

    The property is asserted IN-QUERY, differentially (the q284
    machinery): the same banded probe is planned against the bucketed
    index and an identically-populated UNBUCKETED copy — both under a
    merge-join hint so AQE cannot hide the comparison behind a
    broadcast — and the bucketed plan must show exactly one fewer
    shuffle Exchange (the index-side one). A layout regression
    (bucketing disabled, bucket spec dropped by a path write, count
    mismatch) raises instead of silently re-shuffling.

    Dedup semantics are q288's portable pipeline (shingle → portable
    MinHash → 8×4 bands → capped postings → candidate equi-join →
    exact-Jaccard verify ≥ 0.5 → best match per new doc), so the
    DuckDB oracle re-derives the full answer; the bucketed layout
    changes WHERE the index bytes live, never the answer. Fixture:
    corpus = doc_id < 450, arrivals = the rest plus 30 injected
    near-copies (anti-vacuousness: injected docs MUST come back
    is_dup=1)."""
    from ..sources.bucketing import (
        exchange_count,
        session_table,
        write_bucketed,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.filter(F.col("doc_id") < 450)
    injected = d.filter(F.col("doc_id") < 30).select(
        (F.col("doc_id") + 600000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" vbn vbn")).alias("text"),
    )
    batch = d.filter(F.col("doc_id") >= 450).unionAll(injected)

    idx = build_lsh_index(corpus)
    t_idx = session_table(spark, "q330_idx")
    t_plain = session_table(spark, "q330_idx_plain")
    write_bucketed(idx, t_idx, ["band", "band_hash"])
    # unbucketed CONTROL for the plan differential: exchange counts are
    # a property of the plan SHAPE, not the row count, so the control
    # table holds only a 1000-row sample — at 20×/100 TB the full index
    # is written once (bucketed), never twice
    idx.limit(1000).write.format("parquet").mode("overwrite").saveAsTable(
        t_plain
    )

    probe = _banded_postings(
        batch.select(
            F.col("doc_id").alias("new_doc_id"),
            word_shingles(F.col("text"), 3).alias("new_sh"),
        ),
        "new_doc_id",
        "new_sh",
        32,
        8,
        4,
    )
    n_bucketed = exchange_count(
        probe.join(spark.table(t_idx).hint("merge"), ["band", "band_hash"])
    )
    n_plain = exchange_count(
        probe.join(spark.table(t_plain).hint("merge"), ["band", "band_hash"])
    )
    if n_bucketed != n_plain - 1:
        raise RuntimeError(
            f"bucketed index join planned {n_bucketed} exchanges vs "
            f"{n_plain} unbucketed — the (band, band_hash) bucket "
            "layout was not honored at read time"
        )
    res = incremental_neardup(spark.table(t_idx).hint("merge"), corpus, batch)
    return res.withColumn("idx_exchange_free", F.lit(True))
