"""Testdata analogs of the reference pipeline's operator semantics.

The reference's real input (beverage tweets) is absent from its repo,
so the driver's correctness gate can only run on the synthetic
TPC-H-ish testdata. This module re-expresses each reference operator
family (SURVEY.md §2.3/§2.5) over those tables so the DuckDB oracle
can check the *semantics*; the full tweet pipeline itself (with the
NER matcher and sentiment) lives in ``plans.tweets`` and is validated
by pytest fixtures + a pure-Python oracle (FIXTURES.md §B).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipelinedemo_spark.functions.cleaning import (
    log2_bucket,
    month_label,
    parse_human_number,
)
from datapipelinedemo_spark.functions.stable import dec_sum, smoothed_mean
from datapipelinedemo_spark.plans.catalog import register
from datapipelinedemo_spark.tables import table


# --------------------------------------------------------------------------
# F4 — human-number parse ("1.2K" → 1200) over a deterministically
# synthesized string column (so the oracle sees identical inputs).
# --------------------------------------------------------------------------
@register(
    "f4_human_number_parse",
    oracle="""
    WITH s AS (
        SELECT o_orderkey,
               CASE o_orderkey % 5
                 WHEN 0 THEN CAST(o_orderkey % 97 AS VARCHAR)
                 WHEN 1 THEN CAST((o_orderkey % 97) / 10.0 AS VARCHAR) || 'K'
                 WHEN 2 THEN CAST((o_orderkey % 97) / 10.0 AS VARCHAR) || 'M'
                 WHEN 3 THEN 'garbage'
                 ELSE NULL
               END AS raw
        FROM orders
    )
    SELECT raw,
           CAST(SUM(CASE
                 WHEN raw IS NULL THEN 0
                 -- FLOOR, not CAST: Spark/Python int() truncates toward
                 -- zero while DuckDB CAST(double AS BIGINT) rounds
                 WHEN raw LIKE '%K' THEN CAST(FLOOR(CAST(rtrim(raw, 'K') AS DOUBLE) * 1000) AS BIGINT)
                 WHEN raw LIKE '%M' THEN CAST(FLOOR(CAST(rtrim(raw, 'M') AS DOUBLE) * 1000000) AS BIGINT)
                 WHEN regexp_matches(raw, '^[0-9]*\\.?[0-9]+$')
                   THEN CAST(FLOOR(CAST(raw AS DOUBLE)) AS BIGINT)
                 ELSE 0
               END) AS BIGINT) AS parsed_sum,
           COUNT(*) AS n
    FROM s GROUP BY raw
    """,
)
def f4_human_number_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesizes the reference's messy count strings (plain ints,
    "1.2K", "3M", garbage, null — demo.py:38-47,75-77) from o_orderkey,
    parses them natively, and aggregates so every branch is visible."""
    o = table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    frac = (k % 97) / F.lit(10.0)
    raw = (
        F.when(k % 5 == 0, (k % 97).cast("string"))
        .when(k % 5 == 1, F.concat(frac.cast("string"), F.lit("K")))
        .when(k % 5 == 2, F.concat(frac.cast("string"), F.lit("M")))
        .when(k % 5 == 3, F.lit("garbage"))
        .otherwise(F.lit(None).cast("string"))
    )
    s = o.select(raw.alias("raw"))
    parsed = F.coalesce(parse_human_number(F.col("raw")), F.lit(0))
    return s.groupBy("raw").agg(
        F.sum(parsed).alias("parsed_sum"), F.count(F.lit(1)).alias("n")
    )


# --------------------------------------------------------------------------
# F3 + F13 + A1 — date parts, month labels, weighted frequency:
# the reference's core enrichment shape over the events table.
# --------------------------------------------------------------------------
@register(
    "a1_weighted_monthly_frequency",
    oracle=f"""
    SELECT CAST(year(ts) AS INT) AS year,
           CAST(month(ts) AS INT) AS month,
           'Frequency_' || CAST(year(ts) AS VARCHAR) || '-'
               || CAST(month(ts) AS VARCHAR) AS label,
           event_type AS topic,
           CAST(SUM(CAST(round(log2(CAST(user_id AS DOUBLE) + 1.0), 0) AS BIGINT) + 1 + 1)
               AS BIGINT) AS weighted_freq
    FROM events
    GROUP BY 1, 2, 3, 4
    """,
)
def a1_weighted_monthly_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 semantics (demo.py:196-213): per (year, month, topic), the
    frequency where each row counts (log-bucket weight + 1) times —
    computed as a SUM, never by materializing repeated arrays (F11).
    ``user_id`` stands in for the retweet count; ``event_type`` for the
    phrase. Round-half-up vs half-even: log2(n+1) never lands on .5
    for integer n (see functions.cleaning.log2_bucket), and DuckDB's
    round() on doubles is half-away-from-zero which matches HALF_UP
    for positive inputs.
    """
    ev = table(spark, sf_dir, "events")
    w = log2_bucket(F.col("user_id")).cast("long")  # == round(log2(x+1))+1
    return (
        ev.select(
            F.year("ts").alias("year"),
            F.month("ts").alias("month"),
            month_label("Frequency", F.year("ts"), F.month("ts")).alias("label"),
            F.col("event_type").alias("topic"),
            (w + F.lit(1)).alias("w1"),
        )
        .groupBy("year", "month", "label", "topic")
        .agg(F.sum("w1").alias("weighted_freq"))
    )


# --------------------------------------------------------------------------
# A2 — smoothed weighted mean: Σ(value·(w+1)) / (Σw + 1) per group
# --------------------------------------------------------------------------
@register(
    "a2_smoothed_weighted_mean",
    oracle="""
    WITH s AS (
        SELECT event_type,
               CAST(month(ts) AS INT) AS month,
               value,
               CAST(round(log2(CAST(user_id AS DOUBLE) + 1.0), 0) AS BIGINT) + 1 AS w
        FROM events
    )
    SELECT event_type, month,
           (CAST(SUM(CAST(FLOOR(value * (w + 1) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                / 1000000.0)
               / CAST(SUM(w) + 1 AS DOUBLE) AS smoothed_sentiment,
           COUNT(*) AS n
    FROM s GROUP BY event_type, month
    """,
)
def a2_smoothed_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 semantics (demo.py:255-306): numerator weights every row by
    (w+1), denominator adds the +1 smoothing once per group — the
    asymmetry the reference implements with a Python dict fold."""
    ev = table(spark, sf_dir, "events")
    w = log2_bucket(F.col("user_id")).cast("long")
    s = ev.select(
        "event_type",
        F.month("ts").alias("month"),
        "value",
        w.alias("w"),
    )
    return s.groupBy("event_type", "month").agg(
        smoothed_mean("value", "w").alias("smoothed_sentiment"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------
# F16 + A4 — ordered pair expansion & pair frequency: per (lang, w1, w2),
# 1 + Σ_docs weight (the reference's setdefault(pair, 1) += w fold,
# demo.py:436-442). Pairs are (i < j) over first-occurrence-ordered
# distinct tokens — a pure array expression, zero extra shuffles.
# --------------------------------------------------------------------------
_PAIR_CTE = """
    WITH tok AS (
        SELECT doc_id, lang, n_chars,
               unnest(toks) AS w,
               unnest(generate_series(1, len(toks))) AS pos
        FROM (SELECT doc_id, lang, n_chars,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 t -> t <> '') AS toks
              FROM documents)
    ), dedup AS (
        SELECT doc_id, lang, n_chars, w, MIN(pos) AS pos
        FROM tok GROUP BY doc_id, lang, n_chars, w
    ), pairs AS (
        SELECT a.doc_id, a.lang, a.n_chars, a.w AS w1, b.w AS w2
        FROM dedup a JOIN dedup b
          ON a.doc_id = b.doc_id AND a.pos < b.pos
    )
"""


@register(
    "a4_pair_frequency",
    oracle=_PAIR_CTE
    + """
    SELECT lang, w1, w2,
           CAST(1 + SUM(CAST(round(log2(CAST(n_chars AS DOUBLE) + 1.0), 0)
                             AS BIGINT) + 1) AS BIGINT) AS pair_freq,
           COUNT(*) AS pair_docs
    FROM pairs GROUP BY lang, w1, w2
    """,
)
def a4_pair_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datapipelinedemo_spark.functions.text import distinct_tokens_in_order
    from datapipelinedemo_spark.operators.pairs import explode_pairs

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        log2_bucket(F.col("n_chars")).cast("long").alias("w"),
        distinct_tokens_in_order("text").alias("toks"),
    )
    pairs = explode_pairs(
        docs, "toks", out1="w1", out2="w2", keep=["doc_id", "lang", "w"]
    )
    return pairs.groupBy("lang", "w1", "w2").agg(
        (F.lit(1) + F.sum("w")).alias("pair_freq"),
        F.count(F.lit(1)).alias("pair_docs"),
    )


@register(
    "a3_pair_smoothed_sentiment",
    oracle=_PAIR_CTE
    + """
    , scored AS (
        SELECT lang, w1, w2,
               CAST(n_chars % 200 - 100 AS DOUBLE) / 100.0 AS sent,
               CAST(round(log2(CAST(n_chars AS DOUBLE) + 1.0), 0) AS BIGINT) + 1 AS w
        FROM pairs
    )
    SELECT lang, w1, w2,
           (CAST(SUM(CAST(FLOOR(sent * (w + 1) * 1000000.0 + 0.5) AS BIGINT))
                 AS DOUBLE) / 1000000.0)
               / CAST(SUM(w) + 1 AS DOUBLE) AS pair_sentiment
    FROM scored GROUP BY lang, w1, w2
    """,
)
def a3_pair_smoothed_sentiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 semantics (demo.py:352-404): the A2 smoothed weighted mean,
    keyed by ordered phrase pair. A deterministic pseudo-sentiment
    derived from n_chars stands in for TextBlob polarity."""
    from datapipelinedemo_spark.functions.text import distinct_tokens_in_order
    from datapipelinedemo_spark.operators.pairs import explode_pairs

    docs = table(spark, sf_dir, "documents").select(
        "lang",
        ((F.col("n_chars") % 200 - 100).cast("double") / 100.0).alias("sent"),
        log2_bucket(F.col("n_chars")).cast("long").alias("w"),
        distinct_tokens_in_order("text").alias("toks"),
    )
    pairs = explode_pairs(
        docs, "toks", out1="w1", out2="w2", keep=["lang", "sent", "w"]
    )
    return pairs.groupBy("lang", "w1", "w2").agg(
        smoothed_mean("sent", "w").alias("pair_sentiment")
    )
