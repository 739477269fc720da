"""F8 — dictionary phrase extraction, Spark-native.

The reference runs a spaCy v2 pipeline whose ONLY component is an
``entity_ruler`` with 25,456 literal token patterns
(/root/reference/NER_model/entity_ruler/patterns.jsonl; cfg
``ent_id_sep: "||"``), called from a row-at-a-time UDF
(demo.py:22-35,139-143): match phrases in the tweet text, emit
``ent.ent_id_`` when the pattern has an id else the surface text,
set-dedup, and fall back to the ``["empty"]`` sentinel.

Native rebuild (the scale path, SURVEY.md §2.3 F8b):

1. tokenize text (lowercase word/punct regex — spaCy-equivalent for
   these dictionary patterns);
2. explode (position, n-gram) candidates for every pattern length that
   exists in the dictionary;
3. broadcast-join candidates against the pattern table;
4. resolve overlaps per document with spaCy's ``filter_spans`` greedy
   rule (longest span wins, ties → earlier start) as a fold expression;
5. set-dedup surviving ids, ``["empty"]`` when nothing matched.

Everything is DataFrame ops: one broadcast hash join (pattern table is
a few MB — far under the broadcast threshold), one groupBy over the
matches and one join that reattaches them to the input rows. No Python
touches row data.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Default dictionary location, overridable so the library isn't
# path-coupled to one checkout: SPARK_GRAFT_NER_PATTERNS env var wins,
# else the public reference asset's conventional location.
PATTERNS_ENV = "SPARK_GRAFT_NER_PATTERNS"
REFERENCE_PATTERNS = "/root/reference/NER_model/entity_ruler/patterns.jsonl"


def default_patterns_path() -> str:
    return os.environ.get(PATTERNS_ENV, REFERENCE_PATTERNS)

# spaCy-ish tokenization for dictionary matching: words (incl. digits)
# or single punctuation marks; lowercased.
TOKEN_RE = r"[a-z0-9_']+|[^a-z0-9_'\s]"
# same boundaries over the ORIGINAL casing (used to reconstruct the
# surface form the reference emits for id-less patterns — ent.text,
# demo.py:28-29); lower() of these tokens equals TOKEN_RE over
# lower(text) for ASCII input.
TOKEN_RE_CASED = r"[A-Za-z0-9_']+|[^A-Za-z0-9_'\s]"

PATTERN_SCHEMA = T.StructType(
    [
        T.StructField("pattern", T.StringType()),  # space-joined lower tokens
        T.StructField("n_tokens", T.IntegerType()),
        T.StructField("label", T.StringType()),
        T.StructField("ent_id", T.StringType()),  # nullable
    ]
)


def load_pattern_rows(path: str | None = None) -> list[tuple]:
    """Parse an entity_ruler patterns.jsonl (one JSON object per line:
    ``{"label": ..., "pattern": [{"LOWER": tok}, ...], "id": ...}``)
    into (pattern, n_tokens, label, ent_id) tuples, deduplicated.

    ``path=None`` resolves at CALL time via ``default_patterns_path``
    (env-var override honored even when set after import)."""
    path = path or default_patterns_path()
    rows: dict[tuple, tuple] = {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            obj = json.loads(line)
            toks = [
                str(t.get("LOWER", t.get("lower", ""))).lower()
                for t in obj["pattern"]
                if isinstance(t, dict)
            ]
            if not toks or any(t == "" for t in toks):
                continue
            pattern = " ".join(toks)
            key = (pattern, obj.get("id"))
            rows[key] = (
                pattern,
                len(toks),
                obj.get("label", ""),
                obj.get("id"),
            )
    return list(rows.values())


def pattern_table(
    spark: SparkSession, path: str | None = None
) -> DataFrame:
    return spark.createDataFrame(load_pattern_rows(path), PATTERN_SCHEMA)


def pattern_table_from_rows(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """rows = (pattern, n_tokens, label, ent_id)."""
    return spark.createDataFrame(rows, PATTERN_SCHEMA)


def extract_phrases(
    df: DataFrame,
    text_col: str,
    patterns: DataFrame,
    id_col: str,
    out_col: str = "All_phrases",
) -> DataFrame:
    """Add ``out_col``: array<string> of matched phrase ids (entity_ruler
    semantics, see module docstring), ``["empty"]`` if none.

    ``id_col`` must uniquely identify rows (used to reattach results).

    Matching is first-token-indexed: only positions whose token equals
    some pattern's first token become candidates (for a brand/entity
    dictionary over natural text that is a tiny fraction of positions),
    and the full span is verified just for those, against the token
    array each exploded row carries. The naive all-(position ×
    pattern-length) n-gram generation materializes ~max_len strings per
    token — 16× more work with this dictionary. Two joins in all: the
    broadcast first-token join and the left join back onto ``df``.
    """
    # original-casing tokens: matching compares lowercased, but id-less
    # patterns emit the SURFACE form like the reference's ent.text
    # (demo.py:28-29) — original casing, inter-token whitespace
    # normalized to single spaces (documented fidelity delta).
    toks = df.select(
        F.col(id_col).alias("__rid"),
        F.regexp_extract_all(
            F.col(text_col), F.lit(TOKEN_RE_CASED), F.lit(0)
        ).alias("__toks"),
    )
    pats = patterns.withColumn(
        "__ftok", F.split_part(F.col("pattern"), F.lit(" "), F.lit(1))
    )
    ex = toks.select(
        "__rid", "__toks", F.posexplode("__toks").alias("start", "__tok")
    )
    span = F.expr("array_join(slice(__toks, start + 1, n_tokens), ' ')")
    matched = (
        ex.join(F.broadcast(pats), F.lower(ex["__tok"]) == pats["__ftok"])
        .filter(F.lower(span) == F.col("pattern"))
        .select(
            "__rid",
            "start",
            F.col("n_tokens").alias("len"),
            F.coalesce(F.col("ent_id"), span).alias("phrase"),
        )
    )
    # per row: spaCy filter_spans — sort by (len desc, start asc), keep a
    # span iff it overlaps nothing already kept; then set-dedup phrases
    spans = matched.groupBy("__rid").agg(
        F.collect_list(F.struct("start", "len", "phrase")).alias("ms")
    )
    kept = spans.select(
        "__rid",
        F.expr(
            """
            array_distinct(transform(
              aggregate(
                array_sort(ms, (a, b) ->
                  CASE WHEN a.len > b.len THEN -1 WHEN a.len < b.len THEN 1
                       WHEN a.start < b.start THEN -1
                       WHEN a.start > b.start THEN 1 ELSE 0 END),
                cast(array() as array<struct<start:int,len:int,phrase:string>>),
                (acc, m) -> if(
                  exists(acc, x -> m.start < x.start + x.len
                                   and x.start < m.start + m.len),
                  acc, concat(acc, array(m)))),
              m -> m.phrase))
            """
        ).alias("__phrases"),
    )
    kept = kept.withColumnRenamed("__rid", "__ner_rid")
    out = (
        df.join(kept, df[id_col] == kept["__ner_rid"], "left")
        .drop("__ner_rid")
        .withColumn(
            out_col,
            F.coalesce(F.col("__phrases"), F.array(F.lit("empty"))),
        )
        .drop("__phrases")
    )
    return out
