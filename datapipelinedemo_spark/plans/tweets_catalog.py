"""The four reference pipeline outputs as oracle-checked catalog
queries, over the committed deterministic fixture
(fixtures/tweets.parquet — tools/make_tweets_fixture.py).

The DuckDB oracle reimplements the ENTIRE pipeline in SQL — timestamp
clean/parse (F1/F2), human-number parse (F4), log buckets (F5), URL
keyword (F6), category lookup (F7), dictionary NER with overlap
resolution (F8: the fixture pattern set makes resolution reduce to
"bigrams win, uncovered unigrams survive" — general filter_spans
semantics are pinned by tests/test_tweets_pipeline.py), snapped
lexicon sentiment (F10), and the four aggregation/pivot shapes
(A1/A2/A3/A4 incl. the smoothing asymmetry). Pivot labels are the
fixture's fixed six months, so conditional aggregation stands in for
PIVOT on the SQL side.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from datapipelinedemo_spark.functions.ner import pattern_table_from_rows
from datapipelinedemo_spark.functions.sentiment import lexicon_table
from datapipelinedemo_spark.memo import FrameMemo, source_stamp
from datapipelinedemo_spark.plans import tweets as TW
from datapipelinedemo_spark.plans.catalog import register
from datapipelinedemo_spark.sources.csv import TWEET_SCHEMA

# Fixture paths derived from this file's location so the queries (and
# the oracle SQL embedding them) survive a checkout anywhere.
_FIXTURES_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "fixtures",
)
FIXTURE = os.path.join(_FIXTURES_DIR, "tweets.parquet")

# Operation-for-operation mirror of parse_human_number
# (functions/cleaning.py): same anchored numeric-prefix regex (so
# whitespace and lowercase k/m behave identically), TRY_CAST so
# garbage like 'xK' yields 0 instead of aborting the oracle, and the
# same double-multiply-then-floor grid as Spark's cast("long")
# truncation on non-negative values.
_HUM = """
           COALESCE(CAST(FLOOR(
               TRY_CAST(regexp_extract({c},
                   '^\\s*([0-9]*\\.?[0-9]+)\\s*[KkMm]?\\s*$', 1) AS DOUBLE)
               * CASE WHEN regexp_matches({c}, '[Kk]\\s*$') THEN 1000
                      WHEN regexp_matches({c}, '[Mm]\\s*$') THEN 1000000
                      ELSE 1 END) AS BIGINT), 0)
"""

PATTERNS = [
    ("soda", 1, "Brand", "Soda"),
    ("tonic", 1, "Brand", None),  # no ent_id → surface form
    ("sugar", 1, "Ingredient", "Sugar"),
    ("butter", 1, "Ingredient", "Butter"),
    ("olive", 1, "Ingredient", "Olive"),
    ("ginger", 1, "Ingredient", "Ginger"),
    ("ginger ale", 2, "Brand", "Ginger Ale"),
    ("olive oil", 2, "Ingredient", "Olive Oil"),
]
LEXICON = [
    ("good", 0.5), ("love", 0.8), ("bad", -0.5), ("awful", -0.9), ("flat", -0.2),
]
LABELS = [(2018, 1), (2018, 3), (2019, 2), (2019, 7), (2020, 3), (2020, 9)]


_ENRICHED_MEMO = FrameMemo()


def _enriched(spark: SparkSession) -> DataFrame:
    """One cached enrichment per session, shared by all four output
    queries — mirrors the pipeline's own run_all behavior (the
    reference recomputed the prefix per output). FrameMemo keying
    (memo.py) replaces the historic ``id(spark)`` key, which could
    collide on a recycled address after a session was collected."""

    def _build() -> DataFrame:
        tweets = spark.read.schema(TWEET_SCHEMA).parquet(FIXTURE)
        return TW.enrich(
            tweets,
            pattern_table_from_rows(spark, PATTERNS),
            lexicon_table(spark, LEXICON),
        )

    return _ENRICHED_MEMO.get_or_build(
        spark, (source_stamp(FIXTURE),), _build
    )


# ---------------------------------------------------------------- oracle --
# shared enrichment pipeline in DuckDB SQL (tokenizer regex with SQL-
# escaped quotes)
_TOKRE = "[a-z0-9_'']+|[^a-z0-9_''\\s]"
_ENRICH_CTE = f"""
WITH raw AS (
    SELECT row_number() OVER () AS rid, *
    FROM read_parquet('{FIXTURE}')
    WHERE Timestamp IS NOT NULL
), dated AS (
    SELECT rid, Text,
           coalesce(Likes, '0') AS likes_s,
           coalesce(Retweets, '0') AS rts_s,
           Page_URL,
           try_strptime(CASE WHEN length(Timestamp) < 8
                             THEN Timestamp || ' 2020'
                             ELSE replace(Timestamp, ',', '') END,
                        '%b %d %Y') AS d
    FROM raw
), kw AS (
    SELECT *, nullif(trim(replace(
               regexp_extract(
                 replace(regexp_replace(Page_URL, '^[^?]*\\?', ''), '%20', ' '),
                 'searchq=(.+) until', 1),
               ' lang%3Aen', '')), '') AS keyword
    FROM dated WHERE d IS NOT NULL AND Page_URL IS NOT NULL
), cat AS (
    -- demo.py:122-131 exact map; unknown keyword -> null category, KEPT
    -- (str(None) -> 'None' in the reference's output keys, demo.py:219)
    SELECT *, coalesce(
              CASE WHEN keyword IN ('fizzy drink','soda','sparkling water')
                     THEN 'soda'
                   WHEN keyword = 'tonic' THEN 'tonic'
                   WHEN keyword IN ('ginger ale','coke','pop')
                     THEN 'ginger ale' END,
              'None') AS cat2
    FROM kw WHERE keyword IS NOT NULL
), nums AS (
    -- robust _HUM form (regexp_extract + TRY_CAST), same as the CSV
    -- oracle — the earlier LIKE '%K' + rtrim form aborted DuckDB on
    -- shapes like 'xK' and missed lowercase k/m that Spark accepts
    SELECT rid, Text, cat2, year(d) AS y, month(d) AS m,
           {_HUM.format(c='likes_s')} AS likes,
           {_HUM.format(c='rts_s')} AS rts
    FROM cat
), logs AS (
    SELECT *, CAST(round(log2(likes + 1.0), 0) AS BIGINT) + 1 AS llog,
              CAST(round(log2(rts + 1.0), 0) AS BIGINT) + 1 AS rlog
    FROM nums
), toks AS (
    SELECT rid, regexp_extract_all(lower(Text), '{_TOKRE}') AS t FROM logs
), ex AS (
    SELECT rid, unnest(t) AS tok,
           unnest(generate_series(1, len(t))) AS pos, t
    FROM toks
), bi AS (
    SELECT ex.rid, ex.pos, 2 AS len, p.ent AS phrase
    FROM ex JOIN (VALUES ('ginger','ginger ale','Ginger Ale'),
                         ('olive','olive oil','Olive Oil')) p(ft, pat, ent)
      ON ex.tok = p.ft
    WHERE array_to_string(list_slice(ex.t, ex.pos, ex.pos + 1), ' ') = p.pat
), uni AS (
    SELECT ex.rid, ex.pos, 1 AS len, coalesce(p.ent, p.pat) AS phrase
    FROM ex JOIN (VALUES ('soda','Soda'),('tonic',NULL),('sugar','Sugar'),
                         ('butter','Butter'),('olive','Olive'),
                         ('ginger','Ginger')) p(pat, ent)
      ON ex.tok = p.pat
), uni_kept AS (
    SELECT u.* FROM uni u
    WHERE NOT EXISTS (SELECT 1 FROM bi b
                      WHERE b.rid = u.rid
                        AND u.pos BETWEEN b.pos AND b.pos + 1)
), kept AS (
    SELECT * FROM bi UNION ALL SELECT * FROM uni_kept
), ranked AS (
    SELECT rid, phrase, MIN(rnk) AS ord FROM (
        SELECT rid, phrase,
               ROW_NUMBER() OVER (PARTITION BY rid
                                  ORDER BY len DESC, pos ASC) AS rnk
        FROM kept
    ) GROUP BY rid, phrase
), senttok AS (
    SELECT rid, unnest(list_filter(
               string_split_regex(lower(Text), '[^a-z0-9'']+'),
               x -> x <> '')) AS st
    FROM logs
), sent AS (
    SELECT s.rid,
           (CAST(SUM(CAST(FLOOR(l.p * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
            / 1000000.0) / COUNT(*) AS sentv
    FROM senttok s
    JOIN (VALUES ('good', CAST(0.5 AS DOUBLE)), ('love', CAST(0.8 AS DOUBLE)),
                 ('bad', CAST(-0.5 AS DOUBLE)), ('awful', CAST(-0.9 AS DOUBLE)),
                 ('flat', CAST(-0.2 AS DOUBLE))) l(w, p)
      ON s.st = l.w
    GROUP BY s.rid
), enr AS (
    SELECT lg.rid, lg.y, lg.m, lg.cat2, lg.llog, lg.rlog,
           coalesce(se.sentv, 0.0) AS sentv
    FROM logs lg
    JOIN (SELECT DISTINCT rid FROM kept) hk ON lg.rid = hk.rid
    LEFT JOIN sent se ON lg.rid = se.rid
), topics AS (
    SELECT r.rid, e.y, e.m, e.cat2, e.llog, e.rlog, e.sentv,
           r.phrase, r.ord
    FROM ranked r JOIN enr e ON r.rid = e.rid
), tpairs AS (
    SELECT a.rid, a.y, a.m, a.cat2, a.llog, a.rlog, a.sentv,
           a.phrase AS t1, b.phrase AS t2
    FROM topics a JOIN topics b
      ON a.rid = b.rid AND a.ord < b.ord
)
"""


def _freq_pivot_sql(cols_src: str, keys: str) -> str:
    cells = ",\n".join(
        f"""       CAST(SUM(CASE WHEN y = {y} AND m = {m} THEN val ELSE 0 END)
             AS BIGINT) AS "Frequency_{y}-{m}\""""
        for y, m in LABELS
    )
    return f"""
    SELECT {keys},
{cells},
           'Beverage' AS Category1
    FROM {cols_src} GROUP BY {keys}
    """


def _sent_pivot_sql(cols_src: str, keys: str) -> str:
    cells = ",\n".join(
        f"""       SUM(CASE WHEN y = {y} AND m = {m} THEN val ELSE 0 END)
             AS "Sentiment_{y}-{m}\""""
        for y, m in LABELS
    )
    return f"""
    SELECT {keys},
{cells},
           'Beverage' AS Category1
    FROM {cols_src} GROUP BY {keys}
    """


_SMOOTH = (
    "(CAST(SUM(CAST(FLOOR(sentv * (llog + 1) * 1000000.0 + 0.5) AS BIGINT))"
    " AS DOUBLE) / 1000000.0) / CAST(SUM(llog) + 1 AS DOUBLE)"
)

_FREQ_1D = _ENRICH_CTE + """
, agg AS (
    SELECT phrase AS Topic, cat2 AS Category2, y, m,
           SUM(rlog + 1) AS val
    FROM topics GROUP BY 1, 2, 3, 4
)
""" + _freq_pivot_sql("agg", "Topic, Category2")

_SENT_1D = _ENRICH_CTE + f"""
, agg AS (
    SELECT phrase AS Topic, cat2 AS Category2, y, m,
           {_SMOOTH} AS val
    FROM topics GROUP BY 1, 2, 3, 4
)
""" + _sent_pivot_sql("agg", "Topic, Category2")

_FREQ_2D = _ENRICH_CTE + """
, agg AS (
    SELECT t1 AS Topic, t2 AS Topic2, cat2 AS Category2, y, m,
           1 + SUM(rlog) AS val
    FROM tpairs GROUP BY 1, 2, 3, 4, 5
)
""" + _freq_pivot_sql("agg", "Topic, Topic2, Category2")

_SENT_2D = _ENRICH_CTE + f"""
, agg AS (
    SELECT cat2 AS Category2, t1 AS Topic, t2 AS Topic2, y, m,
           {_SMOOTH} AS val
    FROM tpairs GROUP BY 1, 2, 3, 4, 5
)
""" + _sent_pivot_sql("agg", "Category2, Topic, Topic2")


@register("tweets_frequency_monthly", oracle=_FREQ_1D)
def tweets_frequency_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TW.frequency_monthly(_enriched(spark))


@register("tweets_sentiments_monthly", oracle=_SENT_1D)
def tweets_sentiments_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TW.sentiments_monthly(_enriched(spark))


@register("tweets_frequency_2d_monthly", oracle=_FREQ_2D)
def tweets_frequency_2d_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TW.frequency_2d_monthly(_enriched(spark))


@register("tweets_sentiment2d_monthly", oracle=_SENT_2D)
def tweets_sentiment2d_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TW.sentiment2d_monthly(_enriched(spark))


# ---------------------------------------------------------------- S1 CSV --
# The reference's ACTUAL entry point is a directory of messy CSVs read
# with header (demo.py:53); everything above reads the parquet twin of
# the fixture. This query exercises read_tweets_csv (sources/csv.py:24)
# end-to-end in the oracle gate: 3-file glob, quoted commas in
# timestamps, empty-field nulls in every column, "1.2K"/"3M" counts,
# short/long/garbage timestamp shapes — aggregated monthly so the
# DuckDB read_csv twin hash-checks scan + F1/F2/F4 parse parity.
# Fixture path derived from this file's location so the query (and the
# oracle SQL embedding it) survive a checkout anywhere (ADVICE r5).
CSV_DIR = os.path.join(_FIXTURES_DIR, "tweets_csv")

_CSV_ORACLE = f"""
WITH src AS (
    SELECT * FROM read_csv('{CSV_DIR}/part-*.csv', header=true,
        columns={{'Timestamp':'VARCHAR','Text':'VARCHAR','Comments':'VARCHAR',
                  'Likes':'VARCHAR','Retweets':'VARCHAR','Page_URL':'VARCHAR'}})
), parsed AS (
    SELECT Timestamp,
           try_strptime(CASE WHEN length(Timestamp) < 8
                             THEN Timestamp || ' 2020'
                             ELSE replace(Timestamp, ',', '') END,
                        '%b %d %Y') AS d,
           coalesce(Likes, '0') AS likes_s,
           coalesce(Retweets, '0') AS rts_s,
           Page_URL
    FROM src
), lab AS (
    SELECT CASE WHEN Timestamp IS NULL THEN 'null_ts'
                WHEN d IS NULL THEN 'invalid'
                ELSE CAST(year(d) AS VARCHAR) || '-' || CAST(month(d) AS VARCHAR)
           END AS ym,
           {_HUM.format(c='likes_s')} AS likes,
           {_HUM.format(c='rts_s')} AS rts,
           Page_URL
    FROM parsed
)
SELECT ym, COUNT(*) AS n,
       CAST(SUM(likes) AS BIGINT) AS likes_total,
       CAST(SUM(rts) AS BIGINT) AS rts_total,
       CAST(SUM(CASE WHEN Page_URL IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS null_urls
FROM lab GROUP BY 1
"""


@register("tweets_csv_monthly_ingest", oracle=_CSV_ORACLE)
def tweets_csv_monthly_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from datapipelinedemo_spark.functions import cleaning as C
    from datapipelinedemo_spark.sources.csv import read_tweets_csv

    df = read_tweets_csv(spark, CSV_DIR)
    d = C.parse_timestamp_date(C.clean_timestamp(F.col("Timestamp")))
    ym = (
        F.when(F.col("Timestamp").isNull(), F.lit("null_ts"))
        .when(d.isNull(), F.lit("invalid"))
        .otherwise(
            F.concat(
                F.year(d).cast("string"), F.lit("-"), F.month(d).cast("string")
            )
        )
    )
    return (
        df.select(
            ym.alias("ym"),
            C.parse_human_number(F.coalesce(F.col("Likes"), F.lit("0"))).alias(
                "likes"
            ),
            C.parse_human_number(
                F.coalesce(F.col("Retweets"), F.lit("0"))
            ).alias("rts"),
            "Page_URL",
        )
        .groupBy("ym")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("likes").alias("likes_total"),
            F.sum("rts").alias("rts_total"),
            F.sum(
                F.when(F.col("Page_URL").isNull(), 1).otherwise(0)
            ).alias("null_urls"),
        )
    )
