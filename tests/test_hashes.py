"""Hash-function invariants (SURVEY.md §2.9 #71).

The oracle-checked query surface (q71/q71b) runs on cross-engine
hashes; the engine-specific fast hashes (xxhash64 / crc32 / murmur
``hash``) that production salting substitutes at scale are pinned
HERE: determinism, reference values against independent Python
implementations where one exists (zlib.crc32, hashlib.md5), and the
bucket-range/uniformity properties a salting consumer relies on. The
sketches (Count-Min, MinHash-LSH) have one hash family, the portable
one; the last two tests pin their library defaults to DuckDB's
recomputation."""

from __future__ import annotations

import hashlib
import zlib

from pyspark.sql import functions as F

from aws_iceberg_automation_spark.functions.compat import (
    portable_hash64,
    sql_portable_hash64,
)

WORDS = ["hello", "world", "", "a", "Zürich — emoji ✨", "1234567890" * 5]


def _frame(spark):
    return spark.createDataFrame([(w,) for w in WORDS], ["s"])


def test_portable_hash64_matches_hashlib_and_duckdb(spark):
    """The oracle-bridge hash must equal int(md5[:15], 16) (the Python
    ground truth) and DuckDB's parse of the same hex prefix."""
    import duckdb

    got = {
        r.s: r.h
        for r in _frame(spark).select("s", portable_hash64("s").alias("h")).collect()
    }
    for w in WORDS:
        expect = int(hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16)
        assert got[w] == expect, w
    duck = duckdb.connect().execute(
        f"SELECT s, {sql_portable_hash64('s')} AS h FROM (SELECT unnest(?) AS s)",
        [WORDS],
    ).fetchall()
    for s, h in duck:
        assert got[s] == h, s


def test_crc32_matches_zlib(spark):
    got = {
        r.s: r.c
        for r in _frame(spark).select("s", F.crc32("s").alias("c")).collect()
    }
    for w in WORDS:
        assert got[w] == zlib.crc32(w.encode("utf-8")), w


def test_engine_hashes_deterministic_and_seed_sensitive(spark):
    df = _frame(spark).select(
        "s",
        F.xxhash64("s").alias("x0"),
        F.xxhash64("s", F.lit(1)).alias("x1"),
        F.hash("s").alias("m0"),
    )
    a = {r.s: (r.x0, r.x1, r.m0) for r in df.collect()}
    b = {r.s: (r.x0, r.x1, r.m0) for r in df.collect()}
    assert a == b  # same plan, same values — always
    # seeding actually changes the function (CMS depth relies on it)
    diff = sum(1 for w in WORDS if a[w][0] != a[w][1])
    assert diff >= len(WORDS) - 1


def test_salt_buckets_cover_range_and_spread(spark):
    """pmod(hash) % k salting: every bucket in [0, k) and, over many
    distinct keys, no bucket owns more than a few multiples of fair
    share — the property that de-skews a hot join."""
    k = 16
    df = spark.range(0, 4096).select(
        F.pmod(F.xxhash64(F.col("id").cast("string")), k).alias("b")
    )
    counts = {r.b: r.c for r in df.groupBy("b").agg(F.count("*").alias("c")).collect()}
    assert set(counts) == set(range(k))
    assert max(counts.values()) < 3 * (4096 / k)


def test_countmin_cells_default_matches_duckdb(spark):
    """countmin_cells' default hash is the one DuckDB recomputes: its
    cells equal a DuckDB build of the same items through sql_cms_bucket,
    so the Count-Min sketch has a single, oracle-checkable family."""
    import duckdb

    from aws_iceberg_automation_spark.functions.compat import sql_cms_bucket
    from aws_iceberg_automation_spark.operators.text import countmin_cells

    items = spark.range(0, 3000).select(((F.col("id") * F.col("id")) % 101).alias("item"))
    got = {tuple(r) for r in countmin_cells(items, "item", 4, 64).collect()}
    con = duckdb.connect()
    con.register("items", items.toPandas())
    want = set(
        con.execute(
            f"SELECT seed, {sql_cms_bucket('item', 'seed', 64)} AS bucket, COUNT(*)"
            " FROM items, (SELECT unnest(range(0, 4)) AS seed) s GROUP BY 1, 2"
        ).fetchall()
    )
    assert len(got) > 64
    assert got == want


def test_lsh_index_default_matches_duckdb(spark):
    """build_lsh_index's default postings (bucket cap above the doc
    count, so no posting is truncated) equal the ``banded`` CTE of the
    shared DuckDB MinHash chain every LSH oracle composes."""
    import duckdb

    from aws_iceberg_automation_spark.operators.dedup import (
        _minhash_ctes,
        build_lsh_index,
    )

    # 12 words per doc from a 23-word vocabulary; ids 40+ repeat ids
    # 0-19's text, so some band buckets hold several docs
    words = F.transform(
        F.sequence(F.lit(0), F.lit(11)),
        lambda i: F.concat(
            F.lit("w"), ((F.col("id") % 40 * 7 + i * i) % 23).cast("string")
        ),
    )
    docs = spark.range(0, 60).select(
        F.col("id").alias("doc_id"), F.concat_ws(" ", words).alias("text")
    )
    got = {tuple(r) for r in build_lsh_index(docs, bucket_cap=1000).collect()}
    con = duckdb.connect()
    con.register("docs", docs.toPandas())
    want = set(
        con.execute(
            f"WITH {_minhash_ctes('docs')} SELECT doc_id, band, band_hash FROM banded"
        ).fetchall()
    )
    assert len(got) == 60 * 8
    assert got == want
