"""Behavioral / event-analytics composites over `events` and
`documents`: deterministic sampling, sessionization with explicit ids,
funnel conversion, cohort retention. These are the day-two queries of
any event lakehouse; each is one or two shuffles with per-user keys.

Sampling note: ``df.sample()`` depends on partitioning (rows-only
check territory); the reproducible pattern at any scale is *hash-gate
sampling* — a content hash compared to a threshold — which is exact,
stable under repartitioning, and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.compat import (
    dec2,
    epoch_secs,
    month_day,
    split_bucket,
    sql_dsum,
    sql_split_bucket,
    ts_sec,
)
from ..io import load_table
from ..registry import register
from .analytics import _sql_twin


@register(
    "q96_hash_gate_sample",
    oracle="""
SELECT doc_id, lang, n_chars
FROM documents
WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
""",
    tags=("sampling", "llm"),
)
def q96_hash_gate_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample via md5 prefix gate ('1a'/'100' ≈ 10.2%
    of the hex space): reproducible across runs, engines, cluster shapes
    — the sane way to carve eval/holdout splits from a 100 TB corpus.
    (df.sample() is partitioning-dependent; never use it for splits you
    must reproduce.)"""
    d = load_table(spark, sf_dir, "documents")
    gate = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "1a"
    return d.filter(gate).select("doc_id", "lang", "n_chars")


_SAMPLE_FRACTIONS = {"en": 0.2, "de": 0.8, "es": 0.5, "fr": 0.5, "zh": 0.8}


@register(
    "q96b_stratified_sample",
    oracle=f"""
SELECT lang,
  CAST(COUNT(*) AS BIGINT) AS n_total,
  TRUE AS rate_ok
FROM documents
WHERE lang IN ({", ".join(f"'{k}'" for k in _SAMPLE_FRACTIONS)})
GROUP BY lang
""",
    tags=("sampling", "llm"),
)
def q96b_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling via sampleBy (per-language fractions, fixed
    seed): the corpus-rebalancing primitive (upweight rare languages,
    downweight dominant ones). Bernoulli sampling is
    partitioning-dependent, so the ROWS are not oracle-checkable — the
    oracle-checkable surface (VERDICT r05 ask #4, the q41
    error-bound-boolean pattern) is the per-stratum census: exact
    stratum totals plus ``rate_ok`` = |achieved rate − target| within
    5 binomial standard errors (+1e-9 slack for the degenerate p→1
    strata). 5σ one-sided miss probability ≈ 3e-7 per stratum per
    partitioning — deterministic TRUE for any conf the sweeps throw at
    it; the oracle emits literal TRUE. For *reproducible* splits use
    the hash-gate pattern (q96/q96c)."""
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("lang").isin(*_SAMPLE_FRACTIONS)
    )
    sampled = (
        d.sampleBy("lang", _SAMPLE_FRACTIONS, seed=42)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    totals = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    target = F.create_map(
        *[F.lit(x) for kv in _SAMPLE_FRACTIONS.items() for x in kv]
    )[F.col("lang")]
    rate = F.coalesce(F.col("n_sampled"), F.lit(0)) / F.col("n_total")
    bound = F.lit(5.0) * F.sqrt(target * (1 - target) / F.col("n_total")) + 1e-9
    return (
        totals.join(sampled, "lang", "left")
        .select(
            "lang",
            F.col("n_total").cast("bigint").alias("n_total"),
            (F.abs(rate - target) <= bound).alias("rate_ok"),
        )
    )


@register(
    "q279_weighted_pps_sample",
    oracle="""
WITH c AS (
  SELECT doc_id, lang, n_chars,
    SUM(n_chars) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM documents
), t AS (
  SELECT GREATEST(CAST(SUM(n_chars) AS BIGINT) // 50, 1) AS w
  FROM documents
)
SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
  CAST(CAST(cum AS BIGINT) // w AS BIGINT) AS pick_idx
FROM c, t
WHERE CAST(cum AS BIGINT) // w > CAST(cum - n_chars AS BIGINT) // w
""",
    tags=("sampling", "llm"),
)
def q279_weighted_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (probability-proportional-to-size) systematic sampling:
    order the corpus by a stable key, take the exact integer prefix sum
    of the weight (n_chars — longer docs proportionally likelier), and
    pick every document whose cumulative-weight interval crosses a
    multiple of ``total_weight div 50`` — the classic PPS systematic
    design, ~50 picks. All-integer arithmetic (exact prefix sums,
    truncating div), so the sample is bit-identical under any
    partitioning, engine, or cluster shape — the reproducibility the
    rows-only ``sampleBy`` path can never give (q96b), with weights the
    hash-gate path can't express (q96).

    Scale shape: the prefix sum runs through the bucket/offset
    decomposition (functions/ranking.partitioned_prefix_sums) — no
    single-partition window anywhere; the oracle's one global window is
    DuckDB-side only. One histogram job + one partitioned window at any
    corpus size."""
    from ..functions.ranking import partitioned_prefix_sums

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    c = partitioned_prefix_sums(d, F.col("doc_id"), ["n_chars"])
    w = d.agg(
        F.greatest(
            F.expr("CAST(SUM(n_chars) AS BIGINT) div 50"), F.lit(1).cast("bigint")
        ).alias("w")
    )
    return (
        c.crossJoin(F.broadcast(w))
        .filter(
            F.expr("cum_n_chars div w")
            > F.expr("(cum_n_chars - n_chars) div w")
        )
        .select(
            "doc_id",
            "lang",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.expr("cum_n_chars div w").cast("bigint").alias("pick_idx"),
        )
    )


@register(
    "q96c_stratified_exact_n",
    oracle="""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang,
    row_number() OVER (PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents)
WHERE rk <= 40
""",
    tags=("sampling", "llm"),
)
def q96c_stratified_exact_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-N stratified sampling: exactly min(N, |stratum|) docs per
    language, chosen by hash order — deterministic under any
    partitioning/cluster shape (q96's reproducibility property, with
    exact quotas instead of Bernoulli rates — what an eval-set builder
    actually wants). One shuffle on the stratum key; at extreme
    per-stratum cardinality, pre-filter with an approximate hash gate
    sized to ~3N before ranking so the window sees a sliver."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 40)
        .select("doc_id", "lang")
    )


@register(
    "q102_sequence_packing",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), cum AS (
  SELECT doc_id, lang, n_tokens,
    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM toks
)
SELECT lang,
  CAST(floor((cum_tokens - n_tokens) / 2048) AS BIGINT) AS seq_bin,
  COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
FROM cum
GROUP BY lang, seq_bin
""",
    tags=("text", "llm", "pipeline"),
)
def q102_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to fixed-token-budget training
    bins (2048 here) — the pretraining batch-assembly pass. Streaming
    greedy packing expressed as a running token sum per stream (lang)
    with bin = floor(start_offset / budget): fully declarative, one
    window shuffle, deterministic doc order. At 100 TB the stream key
    becomes (lang, shard) so no single window partition exceeds a
    worker; the bin arithmetic is unchanged."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " ")).cast("bigint")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = d.select(
        "doc_id", "lang", n_tokens.alias("n_tokens")
    ).withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return (
        cum.select(
            "lang",
            F.floor((F.col("cum_tokens") - F.col("n_tokens")) / 2048)
            .cast("bigint")
            .alias("seq_bin"),
            "n_tokens",
        )
        .groupBy("lang", "seq_bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
        )
    )


@register(
    "q75b_sessionize_ids",
    oracle="""
WITH t AS (
  SELECT user_id, event_id, date_trunc('second', ts) AS tsec, value,
    CASE WHEN date_trunc('second', ts)
              - lag(date_trunc('second', ts))
                OVER (PARTITION BY user_id ORDER BY date_trunc('second', ts), event_id)
              > INTERVAL 30 MINUTE
         OR lag(date_trunc('second', ts))
            OVER (PARTITION BY user_id ORDER BY date_trunc('second', ts), event_id) IS NULL
         THEN 1 ELSE 0 END AS is_new
  FROM events
)
SELECT user_id, event_id,
  CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY tsec, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS session_no
FROM t
""",
    tags=("timeseries",),
)
def q75b_sessionize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with explicit per-user session numbers (the
    row-level complement of session_window #75, which only emits
    session aggregates): gap-flag + running sum — two window passes over
    one user-key shuffle."""
    ev = load_table(spark, sf_dir, "events")
    tsec = ts_sec("ts")
    # ANSI forbids timestamp→numeric casts; epoch_secs is the shared
    # tz-independent NTZ interval arithmetic (any anchor cancels in
    # the gap differences below).
    secs = epoch_secs("ts", "2024-01-01 00:00:00")
    order = Window.partitionBy("user_id").orderBy(tsec, "event_id")
    gap = secs - F.lag(secs).over(order)
    is_new = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    running = (
        Window.partitionBy("user_id")
        .orderBy(tsec, "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.sum(is_new).over(running).alias("session_no"),
    )


@register(
    "q97_funnel_conversion",
    oracle="""
WITH stages AS (
  SELECT user_id,
    min(CASE WHEN event_type = 'signup' THEN date_trunc('second', ts) END) AS t_signup,
    min(CASE WHEN event_type = 'click' THEN date_trunc('second', ts) END) AS t_click,
    min(CASE WHEN event_type = 'purchase' THEN date_trunc('second', ts) END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT
  COUNT(*) AS n_users,
  CAST(COUNT(t_signup) AS BIGINT) AS reached_signup,
  CAST(SUM(CASE WHEN t_click > t_signup THEN 1 ELSE 0 END) AS BIGINT) AS clicked_after_signup,
  CAST(SUM(CASE WHEN t_purchase > t_click AND t_click > t_signup THEN 1 ELSE 0 END) AS BIGINT)
    AS full_funnel
FROM stages
""",
    tags=("timeseries", "analytics"),
)
def q97_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (signup → click → purchase): first-touch per stage
    via conditional min, order conditions on the timestamps. One shuffle
    at user grain, then a single-row rollup — the standard conversion
    query at any event volume."""
    ev = load_table(spark, sf_dir, "events")

    def first_of(t: str):
        # second-truncated so a ns-vs-µs physical gap can't flip an
        # ordering comparison between engine and oracle
        return F.min(F.when(F.col("event_type") == t, ts_sec("ts")))

    stages = ev.groupBy("user_id").agg(
        first_of("signup").alias("t_signup"),
        first_of("click").alias("t_click"),
        first_of("purchase").alias("t_purchase"),
    )
    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_signup").alias("reached_signup"),
        F.sum(
            F.when(F.col("t_click") > F.col("t_signup"), 1).otherwise(0)
        ).alias("clicked_after_signup"),
        F.sum(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_signup")),
                1,
            ).otherwise(0)
        ).alias("full_funnel"),
    )


@register(
    "q98_cohort_retention",
    oracle="""
WITH firsts AS (
  SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT e.user_id, f.cohort_day,
    CAST(floor(date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) / 7.0) AS BIGINT)
      AS week_offset
  FROM events e JOIN firsts f ON e.user_id = f.user_id
)
SELECT cohort_day, week_offset, CAST(COUNT(*) AS BIGINT) AS active_users
FROM activity
GROUP BY cohort_day, week_offset
""",
    tags=("timeseries", "analytics"),
)
def q98_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by first-seen day, counted per
    week-offset of later activity. The firsts table is user-grain
    (small relative to events) → broadcast at scale; week arithmetic is
    date-only (tz-proof)."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min("ts").cast("date").alias("cohort_day"))
    activity = (
        ev.join(F.broadcast(firsts), "user_id")
        .select(
            "user_id",
            "cohort_day",
            (
                F.floor(
                    F.datediff(F.col("ts").cast("date"), F.col("cohort_day")) / 7
                )
            ).alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_day", "week_offset").agg(
        F.count(F.lit(1)).alias("active_users")
    )


@register(
    "q164_event_transition_matrix",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type AS cur,
    lead(event_type) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) AS nxt
  FROM events
), pairs AS (
  SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
), totals AS (
  SELECT cur, SUM(n) AS row_total FROM pairs GROUP BY cur
)
SELECT p.cur, p.nxt, p.n,
  round(p.n / CAST(t.row_total AS DOUBLE), 6) AS p_transition
FROM pairs p JOIN totals t USING (cur)
""",
    tags=("behavioral", "events"),
)
def q164_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: counts and conditional probabilities of event_type →
    next event_type — the behavioral fingerprint behind funnel
    diagnostics and bot detection (a user whose click→click mass is
    0.99 is a crawler).

    Plan shape: one shuffle to order events within each user (the
    lead window is per-user — thousands of small partitions, never a
    global sort), then a two-phase count on the (cur, nxt) pairs —
    at most |event_types|² = 25 groups — and a broadcast-size join
    for row-normalization.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    pairs = seq.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n"))
    totals = pairs.groupBy("cur").agg(F.sum("n").alias("row_total"))
    return pairs.join(F.broadcast(totals), "cur").select(
        "cur",
        "nxt",
        "n",
        F.round(F.col("n") / F.col("row_total").cast("double"), 6).alias(
            "p_transition"
        ),
    )


# Shared with the streaming twin (q180): stream DFA == batch regex ==
# this oracle, transitively.
ORACLE_SEQUENCE = """
WITH seq AS (
  SELECT user_id,
    CAST(COUNT(*) AS BIGINT) AS n_events,
    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS s
  FROM events GROUP BY user_id)
SELECT user_id, n_events,
  CAST(len(regexp_extract_all(s, 'vc*p')) AS BIGINT) AS n_matches,
  (len(regexp_extract_all(s, 'vc*p')) > 0) AS matched
FROM seq
"""


@register(
    "q177_sequence_pattern",
    oracle=ORACLE_SEQUENCE,
    tags=("behavioral", "events"),
)
def q177_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence pattern matching (the MATCH_RECOGNIZE shape Spark
    lacks natively): per user, order the event stream, render it as a
    compact symbol string (one char per event type — all five fixture
    types have distinct initials), and count non-overlapping matches
    of the conversion pattern ``view (click)* purchase`` — a view
    leading to a purchase with only clicks between. The same machinery
    runs any regex-expressible funnel/journey pattern.

    Plan shape: one shuffle on user_id; per-user state is the ordered
    symbol string — one byte per event, so a 10k-event user is a 10 kB
    cell (sequence-per-key must be bounded, the same contract as any
    collect_list; cap or window the stream upstream for unbounded
    keys). The regex scan is per-row JVM work, linear in sequence
    length. Leftmost non-overlapping match semantics are identical in
    Java regex and RE2 for this pattern class (no backrefs).
    """
    ev = load_table(spark, sf_dir, "events")
    seq = (
        ev.select(
            "user_id",
            F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("ch")).alias("e"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.concat_ws(
                "",
                F.transform(
                    F.sort_array(F.collect_list("e")),
                    lambda s: s.getField("ch"),
                ),
            ).alias("s"),
        )
    )
    n = F.regexp_count("s", F.lit("vc*p"))
    return seq.select(
        "user_id",
        "n_events",
        n.cast("bigint").alias("n_matches"),
        (n > 0).alias("matched"),
    )


# The journey-census pattern dictionary (q270). RE2-safe subset only
# (no lookaround/backrefs) so Java regex and DuckDB RE2 count the same
# leftmost non-overlapping matches. Symbols: v=view c=click p=purchase
# s=signup e=error (all five fixture event types have distinct
# initials).
_JOURNEY_PATTERNS = [
    ("conversion", "vc*p"),  # view → clicks → purchase
    ("quick_conversion", "vp"),  # view straight to purchase
    ("error_burst", "ee+"),  # 2+ consecutive errors
    ("signup_stumble", "se"),  # error immediately after signup
    ("repeat_purchase", "p[^v]*p"),  # re-purchase without a new view
]


@register(
    "q270_journey_census",
    oracle=f"""
WITH seq AS (
  SELECT user_id,
    string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS s
  FROM events GROUP BY user_id
), pat(pattern, rx) AS (
  VALUES {", ".join(f"('{n}', '{rx}')" for n, rx in _JOURNEY_PATTERNS)}
), scored AS (
  SELECT pat.pattern, len(regexp_extract_all(seq.s, pat.rx)) AS m
  FROM seq CROSS JOIN pat
)
SELECT pattern,
  CAST(SUM(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_users_matched,
  CAST(SUM(m) AS BIGINT) AS total_matches,
  round(CAST(SUM(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS DOUBLE)
        / COUNT(*), 6) AS user_match_rate
FROM scored GROUP BY pattern
""",
    tags=("behavioral", "events", "llm"),
)
def q270_journey_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pattern journey census (the MATCH_RECOGNIZE census shape,
    extending q177's single pattern per VERDICT r05 ask #3c): every
    user's event stream renders to its symbol string ONCE (one shuffle
    on user_id — identical agg to q177/q180), then a literal
    pattern-dictionary explode scores all five journey regexes per
    user and the census aggregates matched-user counts, total match
    counts, and match rates per pattern.

    Scale shape: the corpus shuffles once; the explode multiplies the
    per-user rows (|users| × |patterns|) AFTER reduction to one row
    per user, so pattern-count growth never touches the raw event
    volume. The regex scan is JVM codegen per row, linear in sequence
    length — same bounded-sequence contract as q177. Both engines
    count leftmost non-overlapping matches (Java regex / RE2 agree on
    this lookaround-free pattern class)."""
    ev = load_table(spark, sf_dir, "events")
    seq = (
        ev.select(
            "user_id",
            F.struct(
                "ts", "event_id", F.substring("event_type", 1, 1).alias("ch")
            ).alias("e"),
        )
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.sort_array(F.collect_list("e")),
                    lambda s: s.getField("ch"),
                ),
            ).alias("s"),
        )
    )
    pats = F.array(
        *[
            F.struct(F.lit(n).alias("pattern"), F.lit(rx).alias("rx"))
            for n, rx in _JOURNEY_PATTERNS
        ]
    )
    scored = (
        seq.select("s", F.explode(pats).alias("p"))
        .select(
            F.col("p.pattern").alias("pattern"),
            F.regexp_count("s", F.col("p.rx")).alias("m"),
        )
    )
    return scored.groupBy("pattern").agg(
        F.sum(F.when(F.col("m") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_users_matched"),
        F.sum("m").cast("bigint").alias("total_matches"),
        F.round(
            F.sum(F.when(F.col("m") > 0, 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("user_match_rate"),
    )


@register(
    "q184_disorder_audit",
    oracle="""
WITH a AS (
  SELECT user_id,
    epoch(date_trunc('second', ts)) AS tse,
    max(epoch(date_trunc('second', ts))) OVER (
      PARTITION BY user_id ORDER BY event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_max
  FROM events)
SELECT user_id,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CASE WHEN prior_max > tse THEN 1 ELSE 0 END) AS BIGINT)
    AS n_out_of_order,
  CAST(MAX(CASE WHEN prior_max > tse THEN prior_max - tse ELSE 0 END)
       AS BIGINT) AS max_lateness_s,
  round(CAST(SUM(CASE WHEN prior_max > tse THEN prior_max - tse ELSE 0 END)
             AS DOUBLE) / COUNT(*), 6) AS mean_lateness_s
FROM a GROUP BY user_id
""",
    tags=("behavioral", "events", "watermark-sizing"),
)
def q184_disorder_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time disorder audit — the measurement that SIZES a
    watermark: arrival order is the ingestion id (event_id), event
    time is ts; every event arriving with a timestamp behind the
    running per-user event-time high-water mark is out-of-order, and
    its lateness (seconds behind the mark) is exactly what
    ``withWatermark`` must tolerate before dropping it. Run this on a
    sample BEFORE choosing the watermark delay; re-run it to alert
    when upstream disorder drifts past the configured tolerance.

    Plan shape: one shuffle on user_id, a running-max window in
    arrival order, then a per-user hash agg — the same single-shuffle
    budget as any per-entity window. Lateness stats are exact integer
    seconds (mean spelled exact-sum ÷ count).
    """
    ev = load_table(spark, sf_dir, "events")
    # lateness is a *difference*, so any fixed origin works (epoch on
    # the oracle side, 2024-01-01 here — the offset cancels).
    tse = epoch_secs("ts", "2024-01-01 00:00:00")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    late = F.when(
        F.col("prior_max") > F.col("tse"), F.col("prior_max") - F.col("tse")
    ).otherwise(F.lit(0))
    return (
        ev.select(
            "user_id", tse.alias("tse"), F.max(tse).over(w).alias("prior_max")
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.when(F.col("prior_max") > F.col("tse"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_out_of_order"),
            F.max(late).cast("bigint").alias("max_lateness_s"),
            F.round(
                F.sum(late).cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_lateness_s"),
        )
    )


@register(
    "q201_touch_attribution",
    oracle=f"""
WITH ev AS (
  SELECT event_id, user_id, date_trunc('second', ts) AS ts, event_type, value
  FROM events
), seq AS (
  SELECT *,
    last_value(CASE WHEN event_type IN ('click', 'view') THEN event_type END
               IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt_type,
    last_value(CASE WHEN event_type IN ('click', 'view') THEN ts END
               IGNORE NULLS)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt_ts
  FROM ev
), p AS (
  SELECT
    CASE WHEN lt_ts IS NOT NULL AND date_diff('second', lt_ts, ts) <= 86400
         THEN lt_type ELSE 'direct' END AS touch_channel,
    value,
    CASE WHEN lt_ts IS NOT NULL AND date_diff('second', lt_ts, ts) <= 86400
         THEN date_diff('second', lt_ts, ts) END AS delay_s
  FROM seq WHERE event_type = 'purchase'
)
SELECT touch_channel,
  COUNT(*) AS n_purchases,
  {sql_dsum("CAST(value AS DECIMAL(8,2))", "attributed_revenue")},
  round(CAST(SUM(delay_s) AS DOUBLE) / COUNT(delay_s), 4) AS avg_delay_s
FROM p GROUP BY touch_channel
""",
    tags=("behavioral", "attribution"),
)
def q201_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the user's most
    recent click/view within a 24 h lookback (else 'direct'), reported
    as purchases / revenue / mean delay per touch channel — the
    marketing-attribution shape every event warehouse serves, and the
    canonical "last event of type X before each event Y" pattern
    (lag/last-ignore-nulls over the per-user sequence; an as-of join
    against the self-same stream without materializing two tables).

    Scale shape: ONE window over per-user event sequences —
    partitioned by user_id, so state is one user's events and the
    shuffle is the natural per-user repartition any sessionization
    already pays; then a two-phase hash agg to |channels| rows.
    Revenue sums are exact DECIMAL; the delay average is a ratio of an
    exact BIGINT sum and a count, bit-identical in both engines."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", ts_sec("ts").alias("ts"), "event_type", "value"
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch_t = F.when(
        F.col("event_type").isin("click", "view"), F.col("event_type")
    )
    touch_ts = F.when(
        F.col("event_type").isin("click", "view"), F.col("ts")
    )
    seq = ev.select(
        "*",
        F.last(touch_t, ignorenulls=True).over(w_prev).alias("lt_type"),
        F.last(touch_ts, ignorenulls=True).over(w_prev).alias("lt_ts"),
    )
    delay = F.timestamp_diff("SECOND", F.col("lt_ts"), F.col("ts"))
    attributed = F.col("lt_ts").isNotNull() & (delay <= 86400)
    p = seq.filter(F.col("event_type") == "purchase").select(
        F.when(attributed, F.col("lt_type"))
        .otherwise("direct")
        .alias("touch_channel"),
        "value",
        F.when(attributed, delay).alias("delay_s"),
    )
    return p.groupBy("touch_channel").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum(dec2("value"))
        .cast("decimal(38,2)")
        .cast("string")
        .alias("attributed_revenue"),
        F.round(
            F.sum("delay_s").cast("double") / F.count("delay_s"), 4
        ).alias("avg_delay_s"),
    )


@register(
    "q206_split_manifest",
    oracle=f"""
WITH d AS (
  SELECT doc_id, lang,
    {sql_split_bucket("doc_id")} AS split,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), s AS (
  SELECT split, COUNT(*) AS n_docs,
    CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
    COUNT(DISTINCT lang) AS n_langs
  FROM d GROUP BY split
), tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS t FROM s)
SELECT split, n_docs, sum_tokens, n_langs,
  round(CAST(n_docs AS DOUBLE) / t, 6) AS doc_share
FROM s, tot
""",
    tags=("sampling", "llm", "pipeline"),
)
def q206_split_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split manifest: every document deterministically
    assigned by its md5 hash gate (test ≈10%, val ≈10%, train the
    rest — functions/compat.split_bucket, the single source of the
    boundary), summarized per split as docs / tokens / language
    coverage / share — the manifest a training run records so the
    split is auditable and reconstructible from the raw corpus alone,
    with no stored assignment table to drift out of sync.

    Scale shape: map-side hash gate + token count, two-phase hash agg
    to 3 rows, 1-row total broadcast for the shares. Reproducible
    under any partitioning — the q96 property, extended from sampling
    to the full split."""
    d = load_table(spark, sf_dir, "documents")
    s = (
        d.select(
            split_bucket("doc_id").alias("split"),
            "lang",
            F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.count_distinct("lang").alias("n_langs"),
        )
    )
    tot = s.agg(F.sum("n_docs").alias("t"))
    return s.crossJoin(F.broadcast(tot)).select(
        "split",
        "n_docs",
        "sum_tokens",
        "n_langs",
        F.round(F.col("n_docs").cast("double") / F.col("t"), 6).alias(
            "doc_share"
        ),
    )


@register(
    "q208_rfm_segments",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey AS cust,
    date_diff('day', DATE '1970-01-01', CAST(max(o_orderdate) AS DATE))
      AS rec_days,
    CAST(COUNT(*) AS BIGINT) AS freq,
    CAST(SUM(CAST(o_totalprice AS DECIMAL(8,2))) * 100 AS BIGINT) AS cents
  FROM orders GROUP BY 1
), tiled AS (
  SELECT cents, freq,
    ntile(5) OVER (ORDER BY rec_days, cust) AS r_tile,
    ntile(5) OVER (ORDER BY freq, cust) AS f_tile,
    ntile(5) OVER (ORDER BY cents, cust) AS m_tile
  FROM per_cust
)
SELECT CAST(r_tile AS INT) AS r_tile, CAST(f_tile AS INT) AS f_tile,
  CAST(m_tile AS INT) AS m_tile,
  CAST(COUNT(*) AS BIGINT) AS n_customers,
  CAST(CAST(SUM(cents) AS DECIMAL(38,0)) AS VARCHAR) AS monetary_cents,
  round(AVG(CAST(freq AS DOUBLE)), 6) AS avg_frequency
FROM tiled GROUP BY 1, 2, 3
""",
    # bench-tagged per VERDICT r04 ask #7: the heaviest rank-decomposition
    # query tracks under the gate so its constant-dominated profile
    # (measured 13 s at 1x / 26 s at 20x — eager boundary jobs + literal
    # codegen dominate, volume nearly free) stays continuously measured.
    tags=("behavioral", "segmentation", "bench"),
)
def q208_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every customer scored into recency / frequency
    / monetary quintiles (1 = lowest), then the 5x5x5 segment grid
    summarized — the classic CRM cut ("champions" = 5/5/5, "at risk" =
    1/5/5) that seeds lifecycle campaigns and LTV models.

    Scale shape: orders collapse to one row per customer via two-phase
    hash agg, then all three quintiles come from ONE multi-dimension
    windowless decomposition (functions/ranking.global_ntiles): a
    single eager histogram job cuts the buckets for recency,
    frequency and money together over the plain per-customer frame,
    per-bucket counts/offsets all derive from that one collect, and only the three PARTITIONED rank windows chain — one
    repartition per dimension, never a single-task global window and
    never a boundary job that re-executes a previous dimension's plan
    (the chained-global_ntile form measured 10.9 s warm / 74 shuffles;
    this form ~3× less). Recency is an integer day index
    (timestamp_ntz → date is timezone-independent), money is exact
    integer cents, and every tile orders by (value, custkey) — a total
    order, so the tiles hash-match the oracle's ntile exactly."""
    from ..functions.ckpt import checkpoint_df
    from ..functions.ranking import global_ntiles

    o = load_table(spark, sf_dir, "orders")
    # one row per customer, CHECKPOINTED (r10 re-measure). Under the
    # old in-plan offsets scaffold the boundary job's shuffle output
    # was stage-skipped, so a 20x A/B measured the checkpoint strictly
    # slower (~28 s vs ~26 s). The r10 literal-offsets decomposition
    # executes per_cust three times as SEPARATE query executions
    # (boundary collect, bucket-count collect, main) with no
    # cross-execution stage reuse — pinning the customer-grain frame
    # now wins (1.81 s -> 1.53 s min-of-3 at sf0.1) and scans orders
    # once instead of three times at any scale.
    per_cust = checkpoint_df(o.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.datediff(
            F.max("o_orderdate").cast("date"),
            F.lit("1970-01-01").cast("date"),
        ).alias("rec_days"),
        F.count(F.lit(1)).alias("freq"),
        (F.sum(dec2("o_totalprice")) * 100).cast("bigint").alias("cents"),
    ))
    tiled = global_ntiles(
        per_cust,
        [
            (F.col("rec_days"), "r_tile"),
            (F.col("freq"), "f_tile"),
            (F.col("cents"), "m_tile"),
        ],
        [F.col("cust")],
        5,
    )
    return tiled.groupBy("r_tile", "f_tile", "m_tile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("cents").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("monetary_cents"),
        F.round(F.avg(F.col("freq").cast("double")), 6).alias("avg_frequency"),
    )


@register(
    "q212_interarrival_burstiness",
    oracle="""
WITH gaps AS (
  SELECT user_id,
    epoch(date_trunc('second', ts))
      - lag(epoch(date_trunc('second', ts)))
        OVER (PARTITION BY user_id ORDER BY date_trunc('second', ts), event_id)
      AS gap
  FROM events
)
SELECT user_id,
  CAST(COUNT(*) AS BIGINT) AS n_gaps,
  round(AVG(CAST(gap AS DOUBLE)), 6) AS mean_gap_s,
  round(stddev_samp(CAST(gap AS DOUBLE)), 6) AS std_gap_s,
  round(
    CASE WHEN stddev_samp(CAST(gap AS DOUBLE)) + AVG(CAST(gap AS DOUBLE)) > 0
    THEN (stddev_samp(CAST(gap AS DOUBLE)) - AVG(CAST(gap AS DOUBLE)))
       / (stddev_samp(CAST(gap AS DOUBLE)) + AVG(CAST(gap AS DOUBLE)))
    END, 6) AS burstiness
FROM gaps WHERE gap IS NOT NULL
GROUP BY user_id HAVING COUNT(*) >= 2
""",
    tags=("behavioral", "events"),
)
def q212_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival burstiness B = (σ−μ)/(σ+μ) over event
    gap seconds (Goh & Barabási): −1 = a metronome, 0 = Poisson,
    → 1 = extreme bursts — the behavioral split between humans (bursty)
    and schedulers/bots (periodic), and the load model for capacity
    planning.

    Scale shape: one user-key shuffle orders each user's events (a
    per-user lag window — millions of small partitions, never global),
    then a two-phase agg to one row per user. Gap seconds come from
    tz-independent NTZ interval arithmetic (ANSI forbids
    timestamp→numeric casts; epoch-anchored timestampdiff matches the
    oracle's epoch() exactly). Users need ≥2 gaps so the sample stddev
    is defined in both engines (Spark NaN vs DuckDB NULL on n=1 is a
    classic silent divergence); the σ+μ>0 guard keeps duplicate-only
    timestamp streams NULL instead of 0/0."""
    ev = load_table(spark, sf_dir, "events")
    secs = epoch_secs("ts")
    w = Window.partitionBy("user_id").orderBy(ts_sec("ts"), "event_id")
    gaps = ev.select(
        "user_id", (secs - F.lag(secs).over(w)).cast("double").alias("gap")
    ).filter(F.col("gap").isNotNull())
    mu = F.avg("gap")
    sd = F.stddev_samp("gap")
    return (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(mu, 6).alias("mean_gap_s"),
            F.round(sd, 6).alias("std_gap_s"),
            F.round(F.when(sd + mu > 0, (sd - mu) / (sd + mu)), 6).alias(
                "burstiness"
            ),
        )
        .filter(F.col("n_gaps") >= 2)
    )


@register(
    "q219_conversion_latency",
    oracle="""
WITH per_user AS (
  SELECT user_id,
    min(CASE WHEN event_type = 'view'
        THEN epoch(date_trunc('second', ts)) END) AS fv,
    min(CASE WHEN event_type = 'purchase'
        THEN epoch(date_trunc('second', ts)) END) AS fp
  FROM events GROUP BY 1
), conv AS (
  SELECT user_id, fp - fv AS latency_s FROM per_user
  WHERE fv IS NOT NULL AND fp IS NOT NULL AND fp >= fv
)
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM per_user WHERE fv IS NOT NULL)
    AS n_viewers,
  CAST(COUNT(*) AS BIGINT) AS n_converted,
  round(CAST(COUNT(*) AS DOUBLE)
        / (SELECT COUNT(*) FROM per_user WHERE fv IS NOT NULL), 6)
    AS conversion_rate,
  round(quantile_cont(CAST(latency_s AS DOUBLE), 0.25), 6) AS p25_latency_s,
  round(quantile_cont(CAST(latency_s AS DOUBLE), 0.5), 6) AS p50_latency_s,
  round(quantile_cont(CAST(latency_s AS DOUBLE), 0.9), 6) AS p90_latency_s
FROM conv
""",
    tags=("behavioral", "events"),
)
def q219_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-view → first-purchase conversion latency: how many viewers
    convert, and the p25/p50/p90 of the time they take — the funnel-
    speed KPI that prices retargeting windows ("90% who convert do so
    within X hours").

    Scale shape: ONE conditional hash agg collapses events to a row
    per user (min view ts, min purchase ts — no ordering, no window),
    then a global agg to a single row; exact percentiles bound by the
    distinct-latency domain (q215's argument). Epoch seconds via
    tz-independent NTZ interval arithmetic; a purchase with no prior
    view (fp < fv) is NOT a conversion — the guard is identical on
    both sides."""
    ev = load_table(spark, sf_dir, "events")
    secs = epoch_secs("ts")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", secs)).alias("fv"),
        F.min(F.when(F.col("event_type") == "purchase", secs)).alias("fp"),
    )
    conv = per_user.filter(
        F.col("fv").isNotNull()
        & F.col("fp").isNotNull()
        & (F.col("fp") >= F.col("fv"))
    ).select((F.col("fp") - F.col("fv")).cast("double").alias("latency_s"))
    viewers = per_user.filter(F.col("fv").isNotNull()).agg(
        F.count(F.lit(1)).alias("n_viewers")
    )
    stats = conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.percentile(F.col("latency_s"), F.lit(0.25)).alias("p25"),
        F.percentile(F.col("latency_s"), F.lit(0.5)).alias("p50"),
        F.percentile(F.col("latency_s"), F.lit(0.9)).alias("p90"),
    )
    return stats.crossJoin(F.broadcast(viewers)).select(
        "n_viewers",
        "n_converted",
        F.round(
            F.try_divide(F.col("n_converted").cast("double"), F.col("n_viewers")),
            6,
        ).alias("conversion_rate"),
        F.round("p25", 6).alias("p25_latency_s"),
        F.round("p50", 6).alias("p50_latency_s"),
        F.round("p90", 6).alias("p90_latency_s"),
    )


@register(
    "q234_activity_islands",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), r AS (
  SELECT user_id, day,
    date_diff('day', DATE '1970-01-01', day)
      - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
  FROM days
), isl AS (
  SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len
  FROM r GROUP BY 1, 2
)
SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_active_days,
  CAST(COUNT(*) AS BIGINT) AS n_islands,
  CAST(MAX(len) AS BIGINT) AS longest_streak
FROM isl GROUP BY 1
""",
    tags=("behavioral", "window"),
)
def q234_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands per user: collapse each user's distinct active
    days into maximal runs of CONSECUTIVE days (the classic day_index −
    row_number grouping trick — same difference ⇔ same unbroken run)
    and report active-day count, number of streaks, and the longest
    streak — the engagement-streak primitive behind retention ladders
    and "7-day streak" features that q98's cohort grid can't see
    (cohorts bucket by first-touch, streaks need run structure).

    Scale shape: distinct-day reduction is one two-phase agg keyed
    (user, day); the row_number window and both rollups are all
    partitioned by user_id — work per user is its active-day count,
    nothing global, no skew beyond the per-user event share. The day
    index derives from the NTZ date (epoch-day difference), so the
    hostile-timezone sweep cannot split or merge a run."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    days = e.distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    r = days.select(
        "user_id",
        "day",
        (
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
            - F.row_number().over(w)
        ).alias("grp"),
    )
    isl = r.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    return isl.groupBy("user_id").agg(
        F.sum("len").cast("bigint").alias("n_active_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_islands"),
        F.max("len").cast("bigint").alias("longest_streak"),
    )


@register(
    "q251_growth_accounting",
    oracle="""
WITH uw AS (
  SELECT DISTINCT user_id,
    CAST(floor(date_diff('second', TIMESTAMP '2024-01-01',
                         date_trunc('second', ts)) / 604800.0) AS BIGINT)
      AS wk
  FROM events
), lagged AS (
  SELECT user_id, wk,
    lag(wk)  OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
    lead(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next_wk
  FROM uw
), mx AS (SELECT MAX(wk) AS maxwk FROM uw),
act AS (
  SELECT wk,
    CAST(SUM(CASE WHEN prev_wk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS n_new,
    CAST(SUM(CASE WHEN prev_wk = wk - 1 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_retained,
    CAST(SUM(CASE WHEN prev_wk < wk - 1 THEN 1 ELSE 0 END) AS BIGINT)
      AS n_resurrected
  FROM lagged GROUP BY wk
), ch AS (
  SELECT wk + 1 AS wk, CAST(COUNT(*) AS BIGINT) AS n_churned
  FROM lagged CROSS JOIN mx
  WHERE (next_wk IS NULL OR next_wk > wk + 1) AND wk < maxwk
  GROUP BY wk + 1
)
SELECT COALESCE(act.wk, ch.wk) AS wk,
  COALESCE(n_new, 0) AS n_new,
  COALESCE(n_retained, 0) AS n_retained,
  COALESCE(n_resurrected, 0) AS n_resurrected,
  COALESCE(n_churned, 0) AS n_churned,
  CASE WHEN COALESCE(n_churned, 0) = 0 THEN NULL
       ELSE CAST(COALESCE(n_new, 0) + COALESCE(n_resurrected, 0) AS DOUBLE)
            / n_churned END AS quick_ratio
FROM act FULL OUTER JOIN ch ON act.wk = ch.wk
""",
    tags=("behavioral", "analytics", "events"),
)
def q251_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting (the Social-Capital framework): every
    active user-week classified as NEW (first week ever), RETAINED
    (also active the prior week) or RESURRECTED (returned after a
    gap), plus CHURNED (active the prior week, absent this one) and
    the quick ratio (new+resurrected)/churned — the standard
    engagement-health decomposition behind "are we growing or just
    recycling users". Churn needs no future data beyond the observed
    horizon: the final week never emits churn rows (right-censored).

    Plan shape: events collapse map-side to the distinct (user, week)
    grain — the ONLY corpus-wide shuffle (user-keyed); lag/lead run
    per user over ≤ |weeks| rows each (bounded partitions, no global
    window); the weekly rollup and the act⊔churn spine are
    |weeks|-row frames. Week index is exact integer arithmetic from
    the shared NTZ epoch helper; quick_ratio is an exact int/int
    division, NULL-guarded on zero churn for ANSI."""
    ev = load_table(spark, sf_dir, "events")
    wk = F.floor(epoch_secs("ts", "2024-01-01 00:00:00") / 604800).cast(
        "bigint"
    )
    uw = ev.select("user_id", wk.alias("wk")).distinct()
    order = Window.partitionBy("user_id").orderBy("wk")
    lagged = uw.select(
        "user_id",
        "wk",
        F.lag("wk").over(order).alias("prev_wk"),
        F.lead("wk").over(order).alias("next_wk"),
    )
    mx = uw.agg(F.max("wk").alias("maxwk"))
    act = lagged.groupBy("wk").agg(
        F.sum(F.when(F.col("prev_wk").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_new"),
        F.sum(F.when(F.col("prev_wk") == F.col("wk") - 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_retained"),
        F.sum(F.when(F.col("prev_wk") < F.col("wk") - 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_resurrected"),
    )
    ch = (
        lagged.crossJoin(F.broadcast(mx))
        .filter(
            (F.col("next_wk").isNull() | (F.col("next_wk") > F.col("wk") + 1))
            & (F.col("wk") < F.col("maxwk"))
        )
        .groupBy((F.col("wk") + 1).alias("wk"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_churned"))
    )
    joined = act.join(ch, "wk", "full_outer")
    n_new = F.coalesce("n_new", F.lit(0))
    n_ret = F.coalesce("n_retained", F.lit(0))
    n_res = F.coalesce("n_resurrected", F.lit(0))
    n_chn = F.coalesce("n_churned", F.lit(0))
    return joined.select(
        "wk",
        n_new.alias("n_new"),
        n_ret.alias("n_retained"),
        n_res.alias("n_resurrected"),
        n_chn.alias("n_churned"),
        F.when(n_chn == 0, F.lit(None).cast("double"))
        .otherwise((n_new + n_res).cast("double") / n_chn)
        .alias("quick_ratio"),
    )


@register(
    "q305_transition_dwell",
    oracle="""
WITH e AS (
  SELECT user_id, event_type, epoch(date_trunc('second', ts)) AS tse,
         event_id
  FROM events
),
o AS (
  SELECT user_id, event_type, tse,
    lag(event_type) OVER (PARTITION BY user_id
                          ORDER BY tse, event_id) AS prev_type,
    lag(tse) OVER (PARTITION BY user_id ORDER BY tse, event_id) AS prev_tse
  FROM e
),
t AS (
  SELECT prev_type, event_type AS next_type, tse - prev_tse AS dwell
  FROM o WHERE prev_type IS NOT NULL
)
SELECT prev_type, next_type,
  CAST(COUNT(*) AS BIGINT) AS n_transitions,
  round(CAST(SUM(dwell) AS DOUBLE) / COUNT(*), 2) AS avg_dwell_sec,
  round(quantile_cont(dwell, 0.5), 1) AS p50_dwell_sec,
  CAST(MAX(dwell) AS BIGINT) AS max_dwell_sec
FROM t GROUP BY prev_type, next_type
""",
    tags=("behavioral", "timeseries"),
)
def q305_transition_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dwell-time profile per event-type TRANSITION (the edge-weighted
    companion of q164's transition matrix: not just how often view→
    purchase happens but how LONG users sit between them — the numbers
    a UX funnel or session-timeout tuning actually needs). Dwell is an
    exact integer second difference; avg is an exact int ratio; the
    median interpolates between two ints (exact halves in double —
    deterministic; Spark percentile() ≡ DuckDB quantile_cont, the q42
    equivalence).

    Scale shape: one per-user window (lag), one hash agg on the ~25
    transition pairs — partial-agg'd map-side after the window."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", epoch_secs("ts").alias("tse"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("tse", "event_id")
    t = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .withColumn("prev_tse", F.lag("tse").over(w))
        .filter(F.col("prev_type").isNotNull())
        .select(
            "prev_type",
            F.col("event_type").alias("next_type"),
            (F.col("tse") - F.col("prev_tse")).alias("dwell"),
        )
    )
    return t.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
        F.round(
            F.sum("dwell").cast("double") / F.count(F.lit(1)), 2
        ).alias("avg_dwell_sec"),
        F.round(F.expr("percentile(dwell, 0.5)"), 1).alias("p50_dwell_sec"),
        F.max("dwell").cast("bigint").alias("max_dwell_sec"),
    )


@register(
    "q306_session_concurrency",
    oracle="""
WITH e AS (
  SELECT user_id, epoch(date_trunc('second', ts)) AS tse, ts
  FROM events
),
o AS (
  SELECT user_id, tse, ts,
    CASE WHEN tse - lag(tse) OVER (PARTITION BY user_id ORDER BY tse)
              > 1800
         OR lag(tse) OVER (PARTITION BY user_id ORDER BY tse) IS NULL
         THEN 1 ELSE 0 END AS is_new
  FROM e
),
s AS (
  SELECT user_id, tse, ts,
    SUM(is_new) OVER (PARTITION BY user_id ORDER BY tse
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS session_no
  FROM o
),
sess AS (
  SELECT user_id, min(tse) AS s_start, max(tse) + 1800 AS s_end,
         min(ts) AS start_ts
  FROM s GROUP BY user_id, session_no
),
pts AS (
  SELECT s_start AS t, 1 AS d, start_ts AS ts0 FROM sess
  UNION ALL
  SELECT s_end AS t, -1 AS d, start_ts AS ts0 FROM sess
),
sw AS (SELECT t, d, SUM(d) OVER (ORDER BY t, d) AS conc FROM pts)
SELECT DATE '1970-01-01' + CAST(floor(t / 86400) AS INT) AS day,
  CAST(MAX(conc) AS BIGINT) AS peak_concurrency,
  CAST(COUNT(*) AS BIGINT) AS n_boundary_events
FROM sw GROUP BY 1
""",
    tags=("behavioral", "timeseries"),
)
def q306_session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak CONCURRENT sessions per day — the capacity-planning number
    (licenses, connection pools, GPU seats) — via the classic
    sweep-line: every session contributes +1 at start and -1 at
    end-plus-gap, and the running sum IS the concurrency. Sessions are
    q75's gap rule (30 min). Tie determinism: ends sort before starts
    at the same instant ([start, end) semantics) and the default
    RANGE-to-CURRENT-ROW frame gives every tied row the post-peer
    level, so no per-row value depends on shuffle order. Peak is taken
    over boundary MOMENTS within each day (concurrency only changes at
    boundaries; the day attribution of a level is the boundary's day —
    stated contract).

    Scale shape: 2 rows per session; the sweep runs PARTITIONED by
    day with carried-in offsets (the decomposition the first cut only
    documented — the registry lint bans the one-task global window it
    used): the running sum within each day is a day-partitioned
    window, and the level carried into a day is the Σ(+1/-1) of all
    prior days — per-day totals are a calendar-bounded frame, so the
    exclusive prefix over them is a windowless broadcast theta join.
    conc(t) = day_offset + local_cumsum, identical to the global
    sweep (the oracle keeps the plain global window as the spec)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", epoch_secs("ts").alias("tse"), "ts"
    )
    wo = Window.partitionBy("user_id").orderBy("tse")
    s = (
        e.withColumn("prev", F.lag("tse").over(wo))
        .withColumn(
            "is_new",
            F.when(
                F.col("prev").isNull() | (F.col("tse") - F.col("prev") > 1800),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "session_no",
            F.sum("is_new").over(wo.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    sess = s.groupBy("user_id", "session_no").agg(
        F.min("tse").alias("s_start"),
        (F.max("tse") + 1800).alias("s_end"),
    )
    pts = sess.select(F.col("s_start").alias("t"), F.lit(1).alias("d")).unionAll(
        sess.select(F.col("s_end").alias("t"), F.lit(-1).alias("d"))
    )
    # tz-independent epoch-day bucket (fixture timestamps are
    # non-negative, so integer div == floor on both engines)
    pts = pts.withColumn("dayno", F.expr("CAST(t div 86400 AS INT)"))
    # default RANGE frame (peers share the post-peer level), matching
    # the oracle's global ORDER BY t, d — now per day
    wd = Window.partitionBy("dayno").orderBy("t", "d")
    daytot = pts.groupBy("dayno").agg(F.sum("d").alias("day_sum"))
    off = (
        daytot.alias("a")
        .join(
            F.broadcast(daytot.alias("b")),
            F.col("b.dayno") < F.col("a.dayno"),
            "left",
        )
        .groupBy(F.col("a.dayno").alias("dayno"))
        .agg(F.coalesce(F.sum("b.day_sum"), F.lit(0)).alias("offset"))
    )
    sw = (
        pts.withColumn("local_conc", F.sum("d").over(wd))
        .join(F.broadcast(off), "dayno")
        .withColumn("conc", F.col("offset") + F.col("local_conc"))
    )
    return (
        sw.select(
            F.date_add(
                F.lit("1970-01-01").cast("date"), F.col("dayno")
            ).alias("day"),
            "conc",
        )
        .groupBy("day")
        .agg(
            F.max("conc").cast("bigint").alias("peak_concurrency"),
            F.count(F.lit(1)).cast("bigint").alias("n_boundary_events"),
        )
    )


_Q311_MASK = (
    "CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2 "
    "WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8 ELSE 16 END"
)


@register(
    "q311_behavior_bitmask_census",
    oracle=f"""
WITH m AS (
  SELECT user_id,
    CAST(bit_or({_Q311_MASK}) AS BIGINT) AS mask
  FROM events GROUP BY user_id
)
SELECT mask,
  CAST(COUNT(*) AS BIGINT) AS n_users,
  ((mask & 4) <> 0) AS has_purchase,
  trim(concat(
    CASE WHEN (mask & 1) <> 0 THEN 'click ' ELSE '' END,
    CASE WHEN (mask & 2) <> 0 THEN 'error ' ELSE '' END,
    CASE WHEN (mask & 4) <> 0 THEN 'purchase ' ELSE '' END,
    CASE WHEN (mask & 8) <> 0 THEN 'signup ' ELSE '' END,
    CASE WHEN (mask & 16) <> 0 THEN 'view' ELSE '' END)) AS behaviors
FROM m GROUP BY mask
""",
    tags=("behavioral", "agg"),
)
def q311_behavior_bitmask_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-segment census via BITMASK aggregation — the
    roaring-bitmap-style trick for set-valued per-key state in one
    integer: each user's lifetime event-type SET folds to a 5-bit mask
    with ``bit_or`` (mergeable, 8 bytes of state per user — the 100 TB
    alternative to collect_set's unbounded arrays), and the census
    groups users by exact behavioral signature. Bit tests decode the
    mask back to names engine-identically.

    Scale shape: two hash aggs (user → mask, mask → census), both
    map-side partial; state per group is one int64."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr(_Q311_MASK).alias("m")
    )
    masks = ev.groupBy("user_id").agg(
        F.expr("bit_or(m)").cast("bigint").alias("mask")
    )
    decoded = F.trim(
        F.concat(
            *[
                F.when(
                    F.col("mask").bitwiseAND(F.lit(bit)) != 0, F.lit(name)
                ).otherwise(F.lit(""))
                for bit, name in [
                    (1, "click "),
                    (2, "error "),
                    (4, "purchase "),
                    (8, "signup "),
                    (16, "view"),
                ]
            ]
        )
    )
    return masks.groupBy("mask").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
    ).select(
        "mask",
        "n_users",
        (F.col("mask").bitwiseAND(F.lit(4)) != 0).alias("has_purchase"),
        decoded.alias("behaviors"),
    )


@register(
    "q313_weekly_cohort_overlap",
    oracle="""
WITH a AS (
  SELECT DISTINCT
    CAST((date_diff('day', DATE '1970-01-01',
                    CAST(date_trunc('second', ts) AS DATE)) + 3) // 7
         AS BIGINT) AS wk,
    user_id
  FROM events
),
wks AS (SELECT DISTINCT wk FROM a),
pair AS (
  SELECT w.wk AS wk_prev, w.wk + 1 AS wk_cur FROM wks w
  WHERE EXISTS (SELECT 1 FROM wks x WHERE x.wk = w.wk + 1)
),
j AS (
  SELECT p.wk_prev, p.wk_cur,
    (SELECT COUNT(*) FROM a WHERE a.wk = p.wk_prev) AS n_prev,
    (SELECT COUNT(*) FROM a WHERE a.wk = p.wk_cur) AS n_cur,
    (SELECT COUNT(*) FROM a x JOIN a y
      ON x.user_id = y.user_id AND x.wk = p.wk_prev AND y.wk = p.wk_cur)
      AS n_common
  FROM pair p
)
SELECT wk_prev, wk_cur,
  CAST(n_prev AS BIGINT) AS actives_prev,
  CAST(n_cur AS BIGINT) AS actives_cur,
  CAST(n_common AS BIGINT) AS n_common,
  round(CAST(n_common AS DOUBLE) / (n_prev + n_cur - n_common), 6)
    AS jaccard,
  round(CAST(n_common AS DOUBLE) / n_prev, 6) AS wow_retention
FROM j
""",
    tags=("behavioral", "analytics"),
)
def q313_weekly_cohort_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week active-user OVERLAP (the engagement-continuity
    metric: how much of this week's audience is last week's) — exact
    set intersection per consecutive week pair, with both Jaccard and
    the directed WoW retention rate. Weeks are Monday-aligned epoch
    integers (tz-independent — no calendar function that could shift a
    boundary under a session-timezone change).

    Scale shape: distinct (week, user) once (the dedup agg), then a
    self-equi-join ON user restricted to adjacent weeks — never a
    cross of week sets; counts partial-agg map-side."""
    ev = load_table(spark, sf_dir, "events").select(
        (
            (
                F.datediff(
                    F.col("ts").cast("timestamp_ntz").cast("date"),
                    F.lit("1970-01-01").cast("date"),
                )
                + 3
            )
            / 7
        )
        .cast("long")
        .alias("wk"),
        "user_id",
    )
    a = ev.distinct()
    prev = a.select(F.col("wk").alias("wk_prev"), "user_id")
    cur = a.select(
        (F.col("wk") - 1).alias("wk_p2"), F.col("user_id").alias("u2")
    )
    common = (
        prev.join(
            cur, (prev.wk_prev == cur.wk_p2) & (prev.user_id == cur.u2)
        )
        .groupBy("wk_prev")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    sizes = a.groupBy("wk").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    out = (
        sizes.select(F.col("wk").alias("wk_prev"), F.col("n").alias("n_prev"))
        .join(
            sizes.select(
                (F.col("wk") - 1).alias("wk_prev"), F.col("n").alias("n_cur")
            ),
            "wk_prev",
        )
        .join(common, "wk_prev", "left")
        .select(
            "wk_prev",
            (F.col("wk_prev") + 1).alias("wk_cur"),
            F.col("n_prev").alias("actives_prev"),
            F.col("n_cur").alias("actives_cur"),
            F.coalesce("n_common", F.lit(0).cast("bigint")).alias("n_common"),
        )
    )
    return out.select(
        "wk_prev",
        "wk_cur",
        "actives_prev",
        "actives_cur",
        "n_common",
        F.round(
            F.col("n_common").cast("double")
            / (F.col("actives_prev") + F.col("actives_cur") - F.col("n_common")),
            6,
        ).alias("jaccard"),
        F.round(
            F.col("n_common").cast("double") / F.col("actives_prev"), 6
        ).alias("wow_retention"),
    )


@register(
    "q315_event_streak_rle",
    oracle="""
WITH e AS (
  SELECT user_id, event_type,
    epoch(date_trunc('second', ts)) AS tse, event_id
  FROM events
),
o AS (
  SELECT user_id, event_type, tse, event_id,
    CASE WHEN lag(event_type) OVER (PARTITION BY user_id
                                    ORDER BY tse, event_id) IS NULL
           OR lag(event_type) OVER (PARTITION BY user_id
                                    ORDER BY tse, event_id) <> event_type
         THEN 1 ELSE 0 END AS brk
  FROM e
),
runs AS (
  SELECT user_id, event_type,
    SUM(brk) OVER (PARTITION BY user_id ORDER BY tse, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS run_id
  FROM o
),
rl AS (
  SELECT user_id, event_type, run_id, COUNT(*) AS run_len
  FROM runs GROUP BY user_id, event_type, run_id
)
SELECT event_type,
  CAST(COUNT(*) AS BIGINT) AS n_runs,
  CAST(MAX(run_len) AS BIGINT) AS max_run_len,
  round(CAST(SUM(run_len) AS DOUBLE) / COUNT(*), 3) AS avg_run_len
FROM rl GROUP BY event_type
""",
    tags=("behavioral",),
)
def q315_event_streak_rle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length encoding of per-user event STREAKS (consecutive
    same-type events — the rage-click / error-storm / binge signal
    that per-type counts hide): classic gaps-and-islands with a
    change-flag cumsum, then run-length stats per type. All integers
    until one final avg division.

    Scale shape: one per-user window pass (lag + running sum on the
    same sort — ONE shuffle, the window exchange is reused), then two
    hash aggs; run rows are bounded by event rows."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", epoch_secs("ts").alias("tse"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("tse", "event_id")
    o = e.withColumn("prev", F.lag("event_type").over(w)).withColumn(
        "brk",
        F.when(
            F.col("prev").isNull() | (F.col("prev") != F.col("event_type")), 1
        ).otherwise(0),
    )
    runs = o.withColumn(
        "run_id",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    rl = runs.groupBy("user_id", "event_type", "run_id").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return rl.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_runs"),
        F.max("run_len").cast("bigint").alias("max_run_len"),
        F.round(
            F.sum("run_len").cast("double") / F.count(F.lit(1)), 3
        ).alias("avg_run_len"),
    )


@register(
    "q350_dau_wau_stickiness",
    oracle="""
WITH ud AS (
  SELECT DISTINCT user_id, CAST((month(ts) - 1) * 31 + day(ts) AS BIGINT) AS d FROM events
), dau AS (SELECT d, COUNT(*) AS dau FROM ud GROUP BY d),
grid AS (SELECT DISTINCT d FROM ud),
wau AS (
  SELECT g.d, COUNT(DISTINCT ud.user_id) AS wau
  FROM grid g JOIN ud ON ud.d BETWEEN g.d - 6 AND g.d
  GROUP BY g.d
)
SELECT dau.d AS day, CAST(dau AS BIGINT) AS dau,
  CAST(wau AS BIGINT) AS wau,
  round(CAST(dau AS DOUBLE) / wau, 6) AS stickiness
FROM dau JOIN wau ON wau.d = dau.d
""",
    tags=("behavioral",),
)
def q350_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness — the engagement ratio every growth
    dashboard tracks (what share of the week's actives showed up
    today): rolling 7-day distinct users per day WITHOUT a
    distinct-over-window (no such aggregate exists at scale) — the
    (user, day) distinct frame theta-joins the ≤|days| broadcast day
    grid, so each activity row fans out to ≤7 grid days and WAU is an
    ordinary count-distinct hash agg per day.

    Scale shape: distinct to (user, day) — the frame is bounded by
    users×days, far under the event count — then a broadcast-grid
    range join; no windows at all."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", month_day("ts").alias("d")
    )
    ud = e.distinct()
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    grid = ud.select("d").distinct().withColumnRenamed("d", "gd")
    wau = (
        ud.join(
            F.broadcast(grid),
            (F.col("d") >= F.col("gd") - 6) & (F.col("d") <= F.col("gd")),
        )
        .groupBy("gd")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, dau.d == wau.gd)
        .select(
            F.col("d").alias("day"),
            F.col("dau").cast("bigint").alias("dau"),
            F.col("wau").cast("bigint").alias("wau"),
            F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias(
                "stickiness"
            ),
        )
    )


@register(
    "q351_cohort_ltv_curve",
    oracle="""
WITH p AS (
  SELECT user_id, CAST((month(ts) - 1) * 31 + day(ts) AS BIGINT) AS d,
    CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
), fw AS (
  SELECT user_id,
    CAST(floor((MIN(d) - 1) / 7.0) AS BIGINT) AS cohort_w
  FROM p GROUP BY user_id
), sizes AS (
  SELECT cohort_w, CAST(COUNT(*) AS BIGINT) AS n_users
  FROM fw GROUP BY cohort_w
), rev AS (
  SELECT f.cohort_w,
    CAST(floor((p.d - 1) / 7.0) AS BIGINT) - f.cohort_w AS age_w,
    CAST(SUM(p.cents) AS BIGINT) AS wk_rev
  FROM p JOIN fw f ON f.user_id = p.user_id
  GROUP BY f.cohort_w, CAST(floor((p.d - 1) / 7.0) AS BIGINT) - f.cohort_w
), cum AS (
  SELECT cohort_w, age_w, wk_rev,
    SUM(wk_rev) OVER (PARTITION BY cohort_w ORDER BY age_w
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      AS cum_rev
  FROM rev
)
SELECT c.cohort_w AS cohort_week, c.age_w AS age_weeks, s.n_users,
  CAST(c.cum_rev AS BIGINT) AS cum_rev_cents,
  round(CAST(c.cum_rev AS DOUBLE) / s.n_users / 100, 4) AS ltv_per_user
FROM cum c JOIN sizes s ON s.cohort_w = c.cohort_w
""",
    tags=("behavioral",),
)
def q351_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve — cumulative revenue per acquisition
    cohort by cohort AGE (the revenue twin of q98's retention
    triangle; retention says who came back, LTV says what that was
    worth): cohort = first-purchase week, curve = running revenue per
    cohort member. Revenue rides as exact integer cents; the only
    window is PARTITIONED by cohort over the ≤|weeks| aggregate
    frame.

    Scale shape: filter → per-user min (hash agg) → broadcast-join
    cohorts back → hash agg to (cohort, age) → bounded window; the
    event table is touched once."""
    p = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            month_day("ts").alias("d"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    fw = p.groupBy("user_id").agg(
        F.floor((F.min("d") - 1) / 7.0).cast("bigint").alias("cohort_w")
    )
    sizes = fw.groupBy("cohort_w").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    rev = (
        p.join(F.broadcast(fw), "user_id")
        .withColumn(
            "age_w",
            F.floor((F.col("d") - 1) / 7.0).cast("bigint")
            - F.col("cohort_w"),
        )
        .groupBy("cohort_w", "age_w")
        .agg(F.sum("cents").cast("bigint").alias("wk_rev"))
    )
    w = Window.partitionBy("cohort_w").orderBy("age_w").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = rev.withColumn("cum_rev", F.sum("wk_rev").over(w))
    return cum.join(F.broadcast(sizes), "cohort_w").select(
        F.col("cohort_w").alias("cohort_week"),
        F.col("age_w").alias("age_weeks"),
        "n_users",
        F.col("cum_rev").cast("bigint").alias("cum_rev_cents"),
        F.round(
            F.col("cum_rev").cast("double") / F.col("n_users") / 100, 4
        ).alias("ltv_per_user"),
    )


@register(
    "q352_entry_exit_census",
    oracle="""
WITH t AS (
  SELECT user_id, event_type,
    epoch(date_trunc('second', ts)) AS es, event_id
  FROM events
), m AS (
  SELECT user_id, event_type, es, event_id,
    MAX(es) OVER (PARTITION BY user_id ORDER BY es, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      AS prev
  FROM t
), f AS (
  SELECT user_id, event_type, es, event_id,
    SUM(CASE WHEN prev IS NULL OR es - prev > 1800 THEN 1 ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY es, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM m
), ranked AS (
  SELECT user_id, sid, event_type, es, event_id,
    row_number() OVER (PARTITION BY user_id, sid
                       ORDER BY es, event_id) AS rk_in,
    row_number() OVER (PARTITION BY user_id, sid
                       ORDER BY es DESC, event_id DESC) AS rk_out
  FROM f
), pairs AS (
  SELECT a.user_id, a.sid, a.event_type AS entry_type,
    b.event_type AS exit_type
  FROM (SELECT * FROM ranked WHERE rk_in = 1) a
  JOIN (SELECT * FROM ranked WHERE rk_out = 1) b
    ON b.user_id = a.user_id AND b.sid = a.sid
)
SELECT entry_type, exit_type, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM pairs GROUP BY entry_type, exit_type
""",
    tags=("behavioral",),
)
def q352_entry_exit_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session entry/exit census — the landing-page/exit-page analysis
    of web analytics generalized to event types: per 30-min-gap
    session, which event type OPENED it and which CLOSED it, counted
    over the (entry, exit) matrix. Top-of-funnel anomalies (sessions
    opening with 'error') and abandonment signatures (closing on
    'view') both read straight off this frame.

    Plan discipline: sessionization is the shared lag/cumulative-flag
    pair, entries/exits are two per-(user, session) PARTITIONED
    row_numbers with full (time, event_id) tiebreaks — deterministic
    under any partitioning; the census is one hash agg.

    Scale shape: all windows keyed by user — the event table sorts
    once per user partition; output is ≤ |event types|²."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", epoch_secs("ts").alias("es"), "event_id"
    )
    wo = Window.partitionBy("user_id").orderBy("es", "event_id")
    m = e.withColumn(
        "prev", F.max("es").over(wo.rowsBetween(Window.unboundedPreceding, -1))
    )
    f = m.withColumn(
        "sid",
        F.sum(
            F.when(
                F.col("prev").isNull() | (F.col("es") - F.col("prev") > 1800),
                1,
            ).otherwise(0)
        ).over(wo.rowsBetween(Window.unboundedPreceding, 0)),
    )
    ws = Window.partitionBy("user_id", "sid")
    ranked = f.withColumn(
        "rk_in", F.row_number().over(ws.orderBy("es", "event_id"))
    ).withColumn(
        "rk_out",
        F.row_number().over(
            ws.orderBy(F.col("es").desc(), F.col("event_id").desc())
        ),
    )
    entry = ranked.filter(F.col("rk_in") == 1).select(
        "user_id", "sid", F.col("event_type").alias("entry_type")
    )
    exit_ = ranked.filter(F.col("rk_out") == 1).select(
        "user_id", "sid", F.col("event_type").alias("exit_type")
    )
    return (
        entry.join(exit_, ["user_id", "sid"])
        .groupBy("entry_type", "exit_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
    )


@register(
    "q353_fifo_allocation",
    oracle="""
WITH d AS (
  SELECT l_suppkey, l_orderkey, l_linenumber,
    CAST(l_quantity AS BIGINT) AS q,
    epoch(date_trunc('second', l_shipdate)) AS es
  FROM lineitem
), cum AS (
  SELECT l_suppkey, l_orderkey, l_linenumber, q,
    SUM(q) OVER (PARTITION BY l_suppkey
                 ORDER BY es, l_orderkey, l_linenumber
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cq
  FROM d
), alloc AS (
  SELECT l_suppkey, q,
    GREATEST(CAST(0 AS BIGINT),
             LEAST(q, 500 - (cq - q))) AS filled
  FROM cum
)
SELECT l_suppkey AS s_suppkey,
  CAST(COUNT(*) AS BIGINT) AS n_lines,
  CAST(SUM(CASE WHEN filled = q THEN 1 ELSE 0 END) AS BIGINT) AS n_full,
  CAST(SUM(CASE WHEN filled > 0 AND filled < q THEN 1 ELSE 0 END)
       AS BIGINT) AS n_partial,
  CAST(SUM(CASE WHEN filled = 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_unfilled,
  CAST(SUM(filled) AS BIGINT) AS units_filled
FROM alloc GROUP BY l_suppkey
""",
    tags=("behavioral", "analytics"),
)
def q353_fifo_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO stock allocation — the order-fulfillment kernel (each
    supplier holds a 500-unit budget; line items consume it in
    ship-date order; later lines get partial or zero fills): the
    greedy sequential semantics collapse to CLOSED FORM over a
    per-supplier cumulative sum — filled = clamp(budget − cum_before,
    0, qty) — because FIFO with a fixed budget never revisits a
    decision. No iterative loop, no applyInPandas: one partitioned
    window over exact integer quantities (full (date, order, line)
    tiebreak), one clamp, one census agg.

    The contrast with q295 (clamped running balance, which needs a
    genuine sequential scan because its clamp FEEDS BACK into the
    running state) is the design point: recognize when the recurrence
    is prefix-decomposable and stay declarative.

    Scale shape: one window partitioned by supplier + one hash agg;
    output is |suppliers| rows."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("bigint").alias("q"),
        epoch_secs("l_shipdate").alias("es"),
    )
    w = Window.partitionBy("l_suppkey").orderBy(
        "es", "l_orderkey", "l_linenumber"
    ).rowsBetween(Window.unboundedPreceding, 0)
    cum = li.withColumn("cq", F.sum("q").over(w))
    alloc = cum.withColumn(
        "filled",
        F.greatest(
            F.lit(0).cast("bigint"),
            F.least(F.col("q"), F.lit(500) - (F.col("cq") - F.col("q"))),
        ),
    )
    return alloc.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.when(F.col("filled") == F.col("q"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_full"),
        F.sum(
            F.when(
                (F.col("filled") > 0) & (F.col("filled") < F.col("q")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_partial"),
        F.sum(F.when(F.col("filled") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_unfilled"),
        F.sum("filled").cast("bigint").alias("units_filled"),
    ).select(
        F.col("l_suppkey").alias("s_suppkey"),
        "n_lines",
        "n_full",
        "n_partial",
        "n_unfilled",
        "units_filled",
    )


@register(
    "q371_window_funnel",
    oracle="""
WITH t AS (
  SELECT user_id, event_type,
    epoch(date_trunc('second', ts)) AS es, event_id
  FROM events
), lv AS (
  SELECT user_id, event_type, es, event_id,
    MAX(CASE WHEN event_type = 'view' THEN es END)
      OVER (PARTITION BY user_id ORDER BY es, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view
  FROM t
), cq AS (
  SELECT user_id, event_type, es, event_id,
    CASE WHEN event_type = 'click' AND last_view IS NOT NULL
              AND es - last_view <= 600 THEN es END AS click_q,
    last_view
  FROM lv
), pq AS (
  SELECT user_id, event_type, es,
    MAX(click_q) OVER (PARTITION BY user_id ORDER BY es, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      AS last_click_q,
    click_q, last_view
  FROM cq
), levels AS (
  SELECT user_id,
    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS l1,
    MAX(CASE WHEN click_q IS NOT NULL THEN 1 ELSE 0 END) AS l2,
    MAX(CASE WHEN event_type = 'purchase' AND last_click_q IS NOT NULL
                  AND es - last_click_q <= 600 THEN 1 ELSE 0 END) AS l3
  FROM pq GROUP BY user_id
)
SELECT CAST(l1 + l2 + l3 AS BIGINT) AS funnel_level,
  CAST(COUNT(*) AS BIGINT) AS n_users
FROM levels GROUP BY l1 + l2 + l3
""",
    tags=("behavioral",),
)
def q371_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed funnel (ClickHouse windowFunnel semantics, step-wise
    variant): view → click → purchase where each step follows the
    previous within 600 s; per-user max level reached, histogrammed.
    q97's funnel counts unordered lifetime conversion — this one is
    the TIMED journey, which is what checkout-flow dashboards mean by
    'funnel'.

    The sequential step dependency is deliberately NOT a self-join
    (per-user quadratic — n_u² pairs per user is the classic funnel
    scale trap): each step qualifies via a conditional running-max
    window over the previous step's qualifying timestamps — two
    chained PARTITIONED windows, linear per user, exact integer
    seconds.

    Scale shape: two windows on the same (user) sort + one hash agg
    to users + one to levels."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", epoch_secs("ts").alias("es"), "event_id"
    )
    wp = Window.partitionBy("user_id").orderBy("es", "event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    lv = e.withColumn(
        "last_view",
        F.max(F.when(F.col("event_type") == "view", F.col("es"))).over(wp),
    )
    cq = lv.withColumn(
        "click_q",
        F.when(
            (F.col("event_type") == "click")
            & F.col("last_view").isNotNull()
            & (F.col("es") - F.col("last_view") <= 600),
            F.col("es"),
        ),
    )
    pq = cq.withColumn("last_click_q", F.max("click_q").over(wp))
    levels = pq.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("l1"),
        F.max(
            F.when(F.col("click_q").isNotNull(), 1).otherwise(0)
        ).alias("l2"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & F.col("last_click_q").isNotNull()
                & (F.col("es") - F.col("last_click_q") <= 600),
                1,
            ).otherwise(0)
        ).alias("l3"),
    )
    return (
        levels.select(
            (F.col("l1") + F.col("l2") + F.col("l3"))
            .cast("bigint")
            .alias("funnel_level")
        )
        .groupBy("funnel_level")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


@register(
    "q372_abandonment_census",
    oracle="""
WITH t AS (
  SELECT user_id, event_type, CAST((month(ts) - 1) * 31 + day(ts) AS BIGINT) AS d,
    epoch(date_trunc('second', ts)) AS es, event_id
  FROM events
), nx AS (
  SELECT user_id, event_type, d, es,
    MIN(CASE WHEN event_type = 'purchase' THEN es END)
      OVER (PARTITION BY user_id ORDER BY es, event_id
            ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
      AS next_purchase
  FROM t
), views AS (
  SELECT d,
    CASE WHEN next_purchase IS NULL OR next_purchase - es > 1800
         THEN 1 ELSE 0 END AS abandoned
  FROM nx WHERE event_type = 'view'
)
SELECT d AS day, CAST(COUNT(*) AS BIGINT) AS n_views,
  CAST(SUM(abandoned) AS BIGINT) AS n_abandoned,
  round(CAST(SUM(abandoned) AS DOUBLE) / COUNT(*), 6) AS abandon_rate
FROM views GROUP BY d
""",
    tags=("behavioral",),
)
def q372_abandonment_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Abandonment census — views not followed by a purchase from the
    same user within 30 minutes, per day (the inverse of q219's
    conversion latency: it measures the journeys that DIDN'T
    convert, which is where funnel fixes actually live). The
    next-purchase lookup is a conditional running-MIN over the
    FOLLOWING frame of the per-user time sort — one window, linear,
    no view×purchase self-join.

    Scale shape: one partitioned window + one hash agg to days."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        month_day("ts").alias("d"),
        epoch_secs("ts").alias("es"),
        "event_id",
    )
    wf = Window.partitionBy("user_id").orderBy("es", "event_id").rowsBetween(
        1, Window.unboundedFollowing
    )
    nx = e.withColumn(
        "next_purchase",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("es"))
        ).over(wf),
    )
    views = nx.filter(F.col("event_type") == "view").select(
        "d",
        F.when(
            F.col("next_purchase").isNull()
            | (F.col("next_purchase") - F.col("es") > 1800),
            1,
        )
        .otherwise(0)
        .alias("abandoned"),
    )
    return views.groupBy("d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_views"),
        F.sum("abandoned").cast("bigint").alias("n_abandoned"),
        F.round(
            F.sum("abandoned").cast("double") / F.count(F.lit(1)), 6
        ).alias("abandon_rate"),
    ).withColumnRenamed("d", "day")


_Q408_SQL = """
WITH li AS (
  SELECT p.p_brand AS brand,
    CASE WHEN year(l.l_shipdate) <= 1997 THEN 1 ELSE 2 END AS period,
    CAST(l.l_quantity AS BIGINT) AS qty,
    CAST(round(l.l_extendedprice * 100) AS BIGINT) AS cents
  FROM {lineitem} l JOIN {part} p ON p.p_partkey = l.l_partkey
), agg AS (
  SELECT brand, period, CAST(SUM(qty) AS BIGINT) AS q,
    CAST(SUM(cents) AS BIGINT) AS rev
  FROM li GROUP BY brand, period
), wide AS (
  SELECT brand,
    MAX(CASE WHEN period = 1 THEN q END) AS q1,
    MAX(CASE WHEN period = 2 THEN q END) AS q2,
    MAX(CASE WHEN period = 1 THEN rev END) AS r1,
    MAX(CASE WHEN period = 2 THEN rev END) AS r2
  FROM agg GROUP BY brand
  HAVING MAX(CASE WHEN period = 1 THEN q END) IS NOT NULL
     AND MAX(CASE WHEN period = 2 THEN q END) IS NOT NULL
)
SELECT brand,
  round(r1 / 1e2, 2) AS rev_p1, round(r2 / 1e2, 2) AS rev_p2,
  round((r2 - r1) / 1e2, 2) AS delta_rev,
  round((CAST(r2 AS DOUBLE) / q2 - CAST(r1 AS DOUBLE) / q1) * q2 / 1e2, 2)
    AS price_effect,
  round((q2 - q1) * (CAST(r1 AS DOUBLE) / q1) / 1e2, 2) AS volume_effect
FROM wide
"""


@register(
    "q408_price_volume_mix",
    oracle=_Q408_SQL.format(lineitem="lineitem", part="part"),
    tags=("behavioral", "analytics"),
)
def q408_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRICE-VOLUME bridge per brand — the finance-close decomposition
    of WHY revenue moved between two periods (≤1997 vs after; the fixture ships 1995-2001): the
    Laspeyres split Δrev = (p₂−p₁)·q₂ (price effect, current volumes
    at the price change) + (q₂−q₁)·p₁ (volume effect, old price on the
    volume change), which reconciles EXACTLY by construction — the
    bridge always sums to the delta, the property a revenue waterfall
    chart depends on. Unit prices are revenue/quantity per
    brand-period from exact integer cents; the two effects are scalar
    doubles per brand, rounded at the surface.

    Scale: one fact-dim join + one hash agg to |brands|×2, then a
    |brands|-row pivot fold."""
    return _sql_twin(spark, sf_dir, _Q408_SQL, ["lineitem", "part"])


_Q420_SQL = """
WITH spend AS (
  SELECT user_id,
    CAST(SUM(CASE WHEN (month(ts) - 1) * 31 + day(ts) <= 15
             AND event_type = 'purchase'
             THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
      AS s1,
    CAST(SUM(CASE WHEN (month(ts) - 1) * 31 + day(ts) > 15
             AND event_type = 'purchase'
             THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT)
      AS s2
  FROM {events} GROUP BY user_id
), tiers AS (
  SELECT
    CASE WHEN s1 = 0 THEN 'none' WHEN s1 < 10000 THEN 'low'
         WHEN s1 < 40000 THEN 'mid' ELSE 'high' END AS tier_h1,
    CASE WHEN s2 = 0 THEN 'none' WHEN s2 < 10000 THEN 'low'
         WHEN s2 < 40000 THEN 'mid' ELSE 'high' END AS tier_h2
  FROM spend
)
SELECT tier_h1, tier_h2, CAST(COUNT(*) AS BIGINT) AS n_users
FROM tiers GROUP BY tier_h1, tier_h2
"""


@register(
    "q420_rfm_migration",
    oracle=_Q420_SQL.format(events="events"),
    tags=("behavioral",),
)
def q420_rfm_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer VALUE-TIER MIGRATION matrix — how users moved between
    spend tiers (none/low/mid/high on fixed cent thresholds) from the
    first half of the month to the second: the churn/upgrade flow
    behind every retention deck (q208 assigns RFM segments at a point
    in time; this is the TRANSITION census between two points).
    Fixed integer thresholds — not quantiles — so tier boundaries are
    portable across engines and stable across refreshes, which is
    what makes period-over-period migration comparable at all.

    Scale: one per-user hash agg (map-side combine does the work),
    one 16-cell census."""
    return _sql_twin(spark, sf_dir, _Q420_SQL, ["events"])


_Q418_SQL = """
WITH u AS (
  SELECT user_id,
    MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
    MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS s,
    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM {events} GROUP BY user_id
), cells AS (
  SELECT v, c, s, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(conv) AS BIGINT) AS k
  FROM u GROUP BY v, c, s
), r AS (
  -- conversion rate per exposure subset; empty cells -> 0 (stated)
  SELECT
    COALESCE(MAX(CASE WHEN v=0 AND c=0 AND s=0 THEN CAST(k AS DOUBLE)/n END), 0) AS r000,
    COALESCE(MAX(CASE WHEN v=1 AND c=0 AND s=0 THEN CAST(k AS DOUBLE)/n END), 0) AS r100,
    COALESCE(MAX(CASE WHEN v=0 AND c=1 AND s=0 THEN CAST(k AS DOUBLE)/n END), 0) AS r010,
    COALESCE(MAX(CASE WHEN v=0 AND c=0 AND s=1 THEN CAST(k AS DOUBLE)/n END), 0) AS r001,
    COALESCE(MAX(CASE WHEN v=1 AND c=1 AND s=0 THEN CAST(k AS DOUBLE)/n END), 0) AS r110,
    COALESCE(MAX(CASE WHEN v=1 AND c=0 AND s=1 THEN CAST(k AS DOUBLE)/n END), 0) AS r101,
    COALESCE(MAX(CASE WHEN v=0 AND c=1 AND s=1 THEN CAST(k AS DOUBLE)/n END), 0) AS r011,
    COALESCE(MAX(CASE WHEN v=1 AND c=1 AND s=1 THEN CAST(k AS DOUBLE)/n END), 0) AS r111
  FROM cells
), phi AS (
  SELECT 'view' AS channel,
    round((2*(r100 - r000) + (r110 - r010) + (r101 - r001)
           + 2*(r111 - r011)) / 6e0, 6) AS shapley
  FROM r
  UNION ALL
  SELECT 'click',
    round((2*(r010 - r000) + (r110 - r100) + (r011 - r001)
           + 2*(r111 - r101)) / 6e0, 6)
  FROM r
  UNION ALL
  SELECT 'signup',
    round((2*(r001 - r000) + (r101 - r100) + (r011 - r010)
           + 2*(r111 - r110)) / 6e0, 6)
  FROM r
)
SELECT channel, shapley FROM phi
"""


@register(
    "q418_shapley_attribution",
    oracle=_Q418_SQL.format(events="events"),
    tags=("behavioral", "analytics"),
)
def q418_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHAPLEY-VALUE channel attribution over three exposure channels
    (view/click/signup → purchase): each channel's credit is its
    average marginal lift across all 2³ coalition orderings —
    φᵢ = Σ_S |S|!(2−|S|)!/3! · (v(S∪{i}) − v(S)) with v(S) = the
    conversion rate of users whose exposure set is exactly S, the
    game-theoretic attribution that uniquely satisfies efficiency/
    symmetry/dummy (q201's touch attribution splits by position rules;
    Shapley splits by counterfactual contribution). For 3 players the
    24 weighted terms collapse to the closed form spelled per channel
    (weights 2/6, 1/6, 1/6, 2/6). Empty coalition cells contribute 0
    — stated convention, not silent NULL. One per-user hash agg, one
    8-cell pivot, constant algebra."""
    return _sql_twin(spark, sf_dir, _Q418_SQL, ["events"])


_Q440_SQL = """
WITH ob AS (
  SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
  FROM {lineitem} l JOIN {part} p ON l.l_partkey = p.p_partkey
), nb AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS nb FROM ob GROUP BY b
), tot AS (
  SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n FROM ob
), pairs AS (
  SELECT a.b AS ba, c.b AS bb, CAST(COUNT(*) AS BIGINT) AS nab
  FROM ob a JOIN ob c ON a.o = c.o AND a.b < c.b
  GROUP BY a.b, c.b
), r AS (
  SELECT ba, bb, nab, x.nb AS na, y.nb AS nbb, (SELECT n FROM tot) AS n
  FROM pairs JOIN nb x ON x.b = ba JOIN nb y ON y.b = bb
)
SELECT ba AS brand_a, bb AS brand_b, nab AS support_ab,
  round(CAST(nab AS DOUBLE) / na, 6) AS confidence,
  round(CAST(nab AS DOUBLE) * n / (CAST(na AS DOUBLE) * nbb), 6) AS lift
FROM r
ORDER BY round(CAST(nab AS DOUBLE) * n / (CAST(na AS DOUBLE) * nbb), 6) DESC,
  ba, bb
LIMIT 15
"""


@register(
    "q440_association_rules",
    oracle=_Q440_SQL.format(lineitem="lineitem", part="part"),
    tags=("behavioral", "basket"),
)
def q440_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules at BRAND grain — support /
    confidence / lift for every co-purchased brand pair, top-15 by
    lift (the classic Apriori level-2 output, the grain real
    recommendation pipelines mine because item-grain pairs are
    support-starved). The basket explode stays bounded: distinct
    (order, brand) first — ≤|brands| rows per order — then the pair
    self-join is an equi-join on orderkey with < 25·24/2 result keys,
    so the aggregate is a few-hundred-row frame no matter the fact
    size. Counts are exact integers; confidence/lift are single double
    expressions rounded 6; top-15 via deterministic full ordering
    (lift, then the pair) — TakeOrdered, no unpartitioned window."""
    return _sql_twin(spark, sf_dir, _Q440_SQL, ["lineitem", "part"])


_Q441_SQL = """
WITH e AS (
  SELECT user_id, event_type,
    (CAST(day(ts) AS BIGINT) * 86400 + CAST(hour(ts) AS BIGINT) * 3600
     + CAST(minute(ts) AS BIGINT) * 60 + CAST(second(ts) AS BIGINT))
      * 17179869184 + event_id AS tk
  FROM {events}
), conv AS (
  SELECT user_id, MIN(tk) AS ck
  FROM e WHERE event_type = 'purchase' GROUP BY user_id
), touch AS (
  SELECT e.user_id, e.event_type, e.tk
  FROM e JOIN conv ON e.user_id = conv.user_id
  WHERE e.event_type IN ('click', 'view') AND e.tk < conv.ck
), per_user AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS k,
    min_by(event_type, tk) AS first_t, max_by(event_type, tk) AS last_t
  FROM touch GROUP BY user_id
), lin AS (
  SELECT t.event_type,
    CAST(SUM(CAST(floor(1000000e0 / p.k) AS BIGINT)) AS BIGINT) AS ppm
  FROM touch t JOIN per_user p ON t.user_id = p.user_id
  GROUP BY t.event_type
), ft AS (
  SELECT first_t AS event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM per_user GROUP BY first_t
), lt AS (
  SELECT last_t AS event_type, CAST(COUNT(*) AS BIGINT) AS c
  FROM per_user GROUP BY last_t
)
SELECT lin.event_type AS channel,
  COALESCE(ft.c, 0) AS first_touch_conversions,
  COALESCE(lt.c, 0) AS last_touch_conversions,
  lin.ppm AS linear_credit_ppm
FROM lin
LEFT JOIN ft ON ft.event_type = lin.event_type
LEFT JOIN lt ON lt.event_type = lin.event_type
"""


@register(
    "q441_attribution_models",
    oracle=_Q441_SQL.format(events="events"),
    tags=("behavioral",),
)
def q441_attribution_models(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch ATTRIBUTION comparison — first-touch, last-touch
    and linear credit per channel for every user's pre-conversion
    click/view touches (conversion = the user's FIRST purchase; later
    touches don't count — the causal-ordering rule single-touch
    reports silently break). Event ordering is total and engine-free:
    seconds-resolution timestamp × 2^34 + event_id (q393's key
    construction). Linear credit avoids float accumulation entirely:
    each user's 1/k share is floored ONCE onto a ppm grid
    (floor(1e6/k) — identical IEEE division both engines), and channel
    totals are exact BIGINT sums of those grid shares.

    Scale: one min_by conversion agg, one touch semi-filter, three
    channel-grain aggs — all key-partitioned, no window."""
    return _sql_twin(spark, sf_dir, _Q441_SQL, ["events"])


_Q442_SQL = """
WITH u AS (
  SELECT user_id, CAST(day(ts) AS BIGINT) AS d FROM {events}
), fd AS (
  SELECT user_id, MIN(d) AS cohort FROM u GROUP BY user_id
), act AS (
  SELECT DISTINCT f.cohort, u.d - f.cohort AS age, u.user_id
  FROM u JOIN fd f ON u.user_id = f.user_id
), base AS (
  SELECT cohort, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n0
  FROM act WHERE age = 0 GROUP BY cohort
)
SELECT a.cohort AS cohort_day, a.age,
  CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active,
  round(CAST(COUNT(DISTINCT a.user_id) AS DOUBLE) / MAX(b.n0), 6)
    AS retention
FROM act a JOIN base b ON a.cohort = b.cohort
WHERE a.cohort <= 7 AND a.age <= 10
GROUP BY a.cohort, a.age
"""


@register(
    "q442_cohort_retention",
    oracle=_Q442_SQL.format(events="events"),
    tags=("behavioral",),
)
def q442_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort RETENTION TRIANGLE — users grouped by first-active day,
    tracked by age-in-days: n_active and retention rate per (cohort,
    age) cell for the first week of cohorts × 10 ages. The product
    analytics table every growth team lives in, shaped for scale: one
    first-touch agg, one distinct (cohort, age, user) projection, and
    a cell-grain count — the triangle is ≤ 7×11 rows whatever the
    event volume. Retention = one double division rounded 6; cohort
    size joins back via broadcast (day-grain frame)."""
    return _sql_twin(spark, sf_dir, _Q442_SQL, ["events"])
