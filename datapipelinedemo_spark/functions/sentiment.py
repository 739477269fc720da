"""F10 — sentiment scoring.

The reference calls ``TextBlob(text).sentiment.polarity`` in a
row-at-a-time UDF (demo.py:162-163): PatternAnalyzer averages lexicon
polarities of known words with negation/intensifier handling,
returning a float in [-1, 1] (0.0 when no lexicon word appears).

Native path (F10b, the 100 TB one): tokenize → broadcast-join a
(token, polarity) lexicon → mean polarity per row, 0.0 default. This
is TextBlob's core behavior minus its modifier heuristics — the delta
is QUANTIFIED against the committed vectors in
``fixtures/sentiment_vectors.jsonl`` (tests/test_sentiment_delta.py):
sentences without modifiers match EXACTLY (mean abs delta 0.0 — the
default lexicon carries pattern.en polarities); intensifier phrases
("very good") differ by ~0.19 mean absolute (the lost ×1.3 scaling);
negated phrases ("not good") differ by ~1.2 (the lost sign flip,
TextBlob's ×-0.5 rule), ~1.04 when negation wraps an intensifier;
~0.48 overall on that modifier-heavy vector set. The lexicon is
injectable, so tests pin exact values. The TextBlob fidelity path is
gated behind ``HAVE_TEXTBLOB`` as an Arrow-batched pandas UDF (never
row-at-a-time).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datapipelinedemo_spark.functions.stable import _scaled

try:  # fidelity path — not installed in this container
    from textblob import TextBlob  # noqa: F401

    HAVE_TEXTBLOB = True
except Exception:
    HAVE_TEXTBLOB = False

LEXICON_SCHEMA = T.StructType(
    [
        T.StructField("token", T.StringType()),
        T.StructField("polarity", T.DoubleType()),
    ]
)

# Small built-in default lexicon (public common sentiment words) so the
# pipeline runs standalone; real deployments broadcast a full lexicon.
DEFAULT_LEXICON: list[tuple[str, float]] = [
    ("good", 0.7), ("great", 0.8), ("excellent", 1.0), ("best", 1.0),
    ("love", 0.5), ("like", 0.4), ("tasty", 0.7), ("fresh", 0.3),
    ("nice", 0.6), ("amazing", 0.6), ("happy", 0.8), ("delicious", 1.0),
    ("bad", -0.7), ("terrible", -1.0), ("worst", -1.0), ("awful", -1.0),
    ("hate", -0.8), ("disgusting", -1.0), ("sad", -0.5), ("gross", -0.6),
    ("flat", -0.2), ("stale", -0.5), ("weird", -0.3), ("boring", -0.6),
]


def lexicon_table(
    spark: SparkSession, rows: list[tuple[str, float]] | None = None
) -> DataFrame:
    return spark.createDataFrame(rows or DEFAULT_LEXICON, LEXICON_SCHEMA)


def score_sentiment(
    df: DataFrame,
    text_col: str,
    lexicon: DataFrame,
    id_col: str,
    out_col: str = "Sentiment",
) -> DataFrame:
    """Add ``out_col``: mean lexicon polarity of the row's tokens
    (every occurrence counts, like PatternAnalyzer), 0.0 when no
    lexicon token appears. One broadcast join + one groupBy.

    The mean is computed as a fixed-point (1e-6-snapped) sum divided by
    the count, so the value is independent of aggregation order and a
    SQL oracle reproduces it bit-for-bit; for lexicons with ≤6-decimal
    polarities it equals the exact average.
    """
    toks = df.select(
        F.col(id_col).alias("__rid"),
        F.explode(
            F.split(F.lower(F.col(text_col)), r"[^a-z0-9']+")
        ).alias("__tok"),
    ).filter(F.col("__tok") != "")
    scored = (
        toks.join(F.broadcast(lexicon), toks["__tok"] == lexicon["token"])
        .groupBy("__rid")
        .agg(
            (
                (F.sum(_scaled("polarity", 6)).cast("double") / F.lit(1000000.0))
                / F.count(F.lit(1)).cast("double")
            ).alias("__sent")
        )
    )
    scored = scored.withColumnRenamed("__rid", "__sent_rid")
    return (
        df.join(scored, df[id_col] == scored["__sent_rid"], "left")
        .drop("__sent_rid")
        .withColumn(
            out_col,
            F.coalesce(F.col("__sent"), F.lit(0.0)),
        )
        .drop("__sent")
    )


def textblob_sentiment(df: DataFrame, text_col: str, out_col: str) -> DataFrame:
    """Fidelity path: TextBlob polarity via Arrow-batched pandas UDF.
    Raises if TextBlob is unavailable (this container)."""
    if not HAVE_TEXTBLOB:
        raise NotImplementedError("textblob is not installed in this environment")
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("float")
    def _polarity(s: pd.Series) -> pd.Series:
        from textblob import TextBlob

        return s.fillna("").map(lambda t: TextBlob(t).sentiment.polarity)

    return df.withColumn(out_col, _polarity(F.col(text_col)))
