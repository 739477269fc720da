"""Validate the benchmark's oracle against the repository's DuckDB oracle.

Runs ``oracle.tables`` and the four DuckDB oracle queries of
``plans.tweets_catalog`` over the committed fixture
(``fixtures/tweets.parquet``, the catalog's ``PATTERNS`` and
``LEXICON``) and requires identical tables. The DuckDB side pivots over
the fixture's fixed month list, so a label the oracle does not emit
must be all zeros there.

Usage, from the repository root::

    python3 tweetbench/check_oracle.py

Exits 0 and prints ``oracle matches DuckDB on 4 tables`` on success.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import duckdb  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import oracle  # noqa: E402
from datapipelinedemo_spark.plans import tweets_catalog as TC  # noqa: E402

QUERIES = {
    "frequency_monthly": TC._FREQ_1D,
    "sentiments_monthly": TC._SENT_1D,
    "sentiment2d_monthly": TC._SENT_2D,
    "frequency_2d_monthly": TC._FREQ_2D,
}


def main() -> int:
    t = pq.read_table(TC.FIXTURE).to_pydict()
    rows = list(zip(*(t[c] for c in
                      ("Timestamp", "Text", "Comments", "Likes", "Retweets", "Page_URL"))))
    mine = oracle.tables(rows, oracle.Dictionary.from_rows(TC.PATTERNS),
                         dict(TC.LEXICON))
    failures = []
    for name, sql in QUERIES.items():
        header, wide = mine[name]
        keys = oracle.OUTPUTS[name][0]
        rel = duckdb.sql(sql)
        cols = rel.columns
        theirs = {}
        for r in rel.fetchall():
            d = dict(zip(cols, r))
            theirs[tuple(d[k] for k in keys)] = d
        labels = header[len(keys):-1]
        extra = [c for c in cols if c not in header]
        if set(wide) != set(theirs):
            failures.append(f"{name}: key sets differ "
                            f"({len(wide)} vs {len(theirs)} rows)")
            continue
        for key, vals in wide.items():
            d = theirs[key]
            if (any(float(d[lab]) != v for lab, v in zip(labels, vals))
                    or any(d[c] != 0 for c in extra if c != "Category1")
                    or d["Category1"] != "Beverage"):
                failures.append(f"{name}: row {key} differs")
                break
    for f in failures:
        print(f, file=sys.stderr)
    if failures:
        return 1
    print(f"oracle matches DuckDB on {len(QUERIES)} tables")
    return 0


if __name__ == "__main__":
    sys.exit(main())
