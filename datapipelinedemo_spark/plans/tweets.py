"""The four reference outputs (tweet analytics), assembled Spark-first.

Reference flow (demo.py): CSV scan → ~20 row-at-a-time UDF enrichments
→ per output: rdd.map → groupByKey → Python dict fold → toDF → explode
→ pivot → toPandas CSV, re-running the whole uncached prefix 4×.

Rebuild: one declarative enrichment (every F1–F10 as native
expressions, NER + sentiment as broadcast joins), ``.cache()``d once,
then four pivots that share it. The job graph of ``run_all``:

1. one label job: a single ``groupBy(Year, Month)`` aggregate over the
   enrichment yields every output's pivot values (the months holding
   at least one phrase for the 1-D outputs, at least two for the 2-D
   ones), sorted LEXICOGRAPHICALLY as strings (2018-1 < 2018-10 <
   2018-2) like the golden headers. It runs first, so it also fills
   the enrichment cache;
2. per output, ``groupBy(keys).pivot(__label, labels).agg(value)``
   straight off the exploded rows: Spark's two-stage pivot groups by
   (keys, label) and then by keys — two shuffles, no separate long
   aggregate. Weights fold into SUMs (the reference materializes
   weight-repeated arrays, F11 — never needed);
3. the four pivots are pinned and materialized concurrently, so their
   single-task final stages overlap, and the enrichment is released.

Output schemas match the golden CSV headers
(Frequency_monthly_demo.csv etc.): key cols + ``<Prefix>_<Y>-<M>``
month columns (month not zero-padded) + constant ``Category1``.
"""

from __future__ import annotations

import weakref
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from datapipelinedemo_spark.pin import pin

from datapipelinedemo_spark.functions.cleaning import (
    clean_timestamp,
    date_parts,
    keyword_from_url,
    keyword_to_category,
    log2_bucket,
    month_label,
    parse_human_number,
    parse_timestamp_date,
)
from datapipelinedemo_spark.functions.ner import extract_phrases
from datapipelinedemo_spark.functions.sentiment import score_sentiment
from datapipelinedemo_spark.functions.stable import smoothed_mean


def enrich(tweets: DataFrame, patterns: DataFrame, lexicon: DataFrame) -> DataFrame:
    """E1 — the shared enrichment prefix (demo.py:50-187), one pass,
    returned cached.

    The row-level part is two projections around one filter: parse the
    date, the three counts (null → 0) and the URL keyword; keep the rows
    with a date and a keyword (a null Timestamp or Page_URL yields
    neither); then add the log buckets, Year/Month/Quarter, Category2
    and the ``__rid`` row id. NER and sentiment then attach by
    ``__rid``. The reference's P1 random sample (demo.py:55,59) is not
    applied: its unseeded global sort made the golden outputs
    unreproducible (SURVEY.md §5).
    """
    df = (
        tweets.withColumns(
            {
                "TweetDate": parse_timestamp_date(clean_timestamp("Timestamp")),
                "Comments": parse_human_number("Comments"),
                "Likes": parse_human_number("Likes"),
                "Retweets": parse_human_number("Retweets"),
                "Keyword": keyword_from_url("Page_URL"),
            }
        )
        .filter(F.col("TweetDate").isNotNull() & F.col("Keyword").isNotNull())
        .withColumns(
            {
                "Likes_log": log2_bucket("Likes"),
                "Retweets_log": log2_bucket("Retweets"),
                **date_parts("TweetDate"),
                # Unknown keyword → null category in the reference
                # (demo.py:135); those rows are KEPT and every output
                # consumes Category2 only via str(key) in the
                # month/category UDFs (demo.py:219, str(None) → 'None'),
                # so coalescing to the literal 'None' here is
                # observationally equivalent and keeps the group key
                # non-null.
                "Category2": F.coalesce(
                    keyword_to_category("Keyword"), F.lit("None")
                ),
                "__rid": F.monotonically_increasing_id(),
            }
        )
    )
    # __rid feeds TWO reattach joins (phrases, sentiment) below.
    # monotonically_increasing_id is only stable for a fixed partition
    # layout + row order, so pin it by materializing the frame once
    # (lineage truncation: retries and both join branches reread the
    # same blocks instead of regenerating ids). Lazy: first action pays.
    df = df.transform(pin)  # pin-bounded: tweets demo-fixture grain; materialization REQUIRED for monotonically_increasing_id stability (correctness, not perf)
    df = extract_phrases(df, "Text", patterns, "__rid", out_col="All_phrases")
    # CheckEmpty != 1 (demo.py:157's intended semantics): drop sentinel rows
    df = df.filter(F.col("All_phrases") != F.array(F.lit("empty")))
    df = score_sentiment(df, "Text", lexicon, "__rid", out_col="Sentiment")
    return df.drop("__rid").cache()


# enrichment frame → (1-D months, 2-D months); weak keys, so an entry
# lives exactly as long as the enrichment it was computed from
_LABELS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _month_labels(enriched: DataFrame) -> tuple[list[str], list[str]]:
    """Every output's pivot values, from ONE small aggregate over the
    enrichment: per (Year, Month), the most non-sentinel phrases any
    tweet holds. A month has a topic row iff that max is >= 1 and a
    topic-pair row iff it is >= 2 (NER phrases are never null), so the
    1-D and 2-D label sets are exactly the months their exploded rows
    cover. Returned as ``<Y>-<M>`` strings sorted lexicographically,
    matching the golden headers: the reference's value-less pivot
    sorts the distinct labels as strings (Frequency_monthly_demo.csv:1).
    Memoized per enrichment frame, so the four builders share one job."""
    months = _LABELS.get(enriched)
    if months is None:
        phrases = F.size(F.array_remove("All_phrases", "empty"))
        rows = (
            enriched.groupBy("Year", "Month")
            .agg(F.max(phrases).alias("n"))
            .collect()  # bounded-collect: one row per (Year, Month), calendar-bounded
        )
        months = tuple(
            sorted(f"{r['Year']}-{r['Month']}" for r in rows if r["n"] >= k)
            for k in (1, 2)
        )
        _LABELS[enriched] = months
    return months


def _pivot(
    rows: DataFrame, keys: list[str], prefix: str, value: Column, months: list[str]
) -> DataFrame:
    return (
        rows.withColumn("__label", month_label(prefix, "Year", "Month"))
        .groupBy(*keys)
        .pivot("__label", [f"{prefix}_{ym}" for ym in months])
        .agg(value)
        .fillna(0)
        # the pivot's columns are already keys, then labels in list order
        .withColumn("Category1", F.lit("Beverage"))
    )


def _explode_topics(enriched: DataFrame) -> DataFrame:
    return enriched.select(
        "Year",
        "Month",
        "Category2",
        "Likes_log",
        "Retweets_log",
        "Sentiment",
        F.explode("All_phrases").alias("Topic"),
    ).filter(F.col("Topic") != "empty")


def _explode_topic_pairs(enriched: DataFrame) -> DataFrame:
    from datapipelinedemo_spark.operators.pairs import explode_pairs

    base = enriched.select(
        "Year",
        "Month",
        "Category2",
        "Likes_log",
        "Retweets_log",
        "Sentiment",
        "All_phrases",
    )
    pairs = explode_pairs(
        base,
        "All_phrases",
        out1="Topic",
        out2="Topic2",
        keep=["Year", "Month", "Category2", "Likes_log", "Retweets_log", "Sentiment"],
    )
    return pairs.filter((F.col("Topic") != "empty") & (F.col("Topic2") != "empty"))


def frequency_monthly(enriched: DataFrame) -> DataFrame:
    """A1 — weighted phrase frequency: per (Topic, Category2, month),
    Σ_tweets (Retweets_log + 1). Weight folded into the SUM (the
    reference repeats the phrase array weight+1 times then FreqDists
    it, demo.py:180-213)."""
    return _pivot(
        _explode_topics(enriched),
        ["Topic", "Category2"],
        "Frequency",
        F.sum(F.col("Retweets_log") + 1),
        _month_labels(enriched)[0],
    )


def sentiments_monthly(enriched: DataFrame) -> DataFrame:
    """A2 — smoothed weighted mean sentiment per phrase:
    Σ(Sentiment·(Likes_log+1)) / (Σ Likes_log + 1) — numerator weights
    every tweet, denominator smooths once per group (demo.py:255-306)."""
    return _pivot(
        _explode_topics(enriched),
        ["Topic", "Category2"],
        "Sentiment",
        smoothed_mean("Sentiment", "Likes_log"),
        _month_labels(enriched)[0],
    )


def frequency_2d_monthly(enriched: DataFrame) -> DataFrame:
    """A4 — pair frequency: per (Topic, Topic2, Category2, month),
    1 + Σ_tweets Retweets_log (asymmetric smoothing vs A1 — the
    reference's setdefault(pair, 1) fold, demo.py:436-442)."""
    return _pivot(
        _explode_topic_pairs(enriched),
        ["Topic", "Topic2", "Category2"],
        "Frequency",
        F.lit(1) + F.sum("Retweets_log"),
        _month_labels(enriched)[1],
    )


def sentiment2d_monthly(enriched: DataFrame) -> DataFrame:
    """A3 — pair smoothed sentiment, the A2 formula per (Topic, Topic2,
    Category2, month) (golden column order: Category2, Topic, Topic2,
    months…, Category1)."""
    return _pivot(
        _explode_topic_pairs(enriched),
        ["Category2", "Topic", "Topic2"],
        "Sentiment",
        smoothed_mean("Sentiment", "Likes_log"),
        _month_labels(enriched)[1],
    )


def _materialize(wide: DataFrame) -> DataFrame:
    """Pin and count one output, on a pool thread: under AQE, ``pin``
    runs the shuffle stages as soon as it is called, so the pin itself
    must happen here for the four outputs to overlap."""
    # pin-bounded: pivot table, topic × category grain (dictionary-bounded) × calendar months
    out = wide.transform(pin)
    out.count()
    return out


def run_all(
    tweets: DataFrame, patterns: DataFrame, lexicon: DataFrame
) -> dict[str, DataFrame]:
    """All four outputs off ONE cached enrichment (the reference
    recomputes the whole prefix per output — 4 full passes), returned
    materialized: writing one is a single job over its pinned blocks.

    The label job and the plan building run on the calling thread (the
    builders may be wrapped by tracing code that is not thread-safe);
    only the materializations share a pool. The pool's threads inherit
    the caller's job group and tags, so ``cancelJobGroup`` and per-group
    job accounting cover them."""
    e = enrich(tweets, patterns, lexicon)
    try:
        _month_labels(e)  # the one label job; it also fills e's cache
        built = {
            "frequency_monthly": frequency_monthly(e),
            "sentiments_monthly": sentiments_monthly(e),
            "sentiment2d_monthly": sentiment2d_monthly(e),
            "frequency_2d_monthly": frequency_2d_monthly(e),
        }
        # a decorator only in pinned-thread mode (PySpark's default)
        wrap = inheritable_thread_target(e.sparkSession)
        target = wrap(_materialize) if callable(wrap) else _materialize
        with ThreadPoolExecutor(len(built)) as pool:
            return dict(zip(built, pool.map(target, built.values())))
    finally:
        e.unpersist()
