"""End-to-end test of the four reference outputs on a synthetic tweet
fixture, validated against a pure-Python oracle that reimplements
demo.py's *intended* semantics (FIXTURES.md §B): the F1-F10 enrichment
chain, entity_ruler matching with filter_spans overlap resolution, and
the four aggregation folds (A1 vs A4 smoothing asymmetry included).
"""

from __future__ import annotations

import importlib.util
import math
import os
import re
import sys
import warnings
from datetime import datetime

import pytest

from datapipelinedemo_spark.functions.ner import (
    TOKEN_RE,
    pattern_table_from_rows,
)
from datapipelinedemo_spark.functions.sentiment import lexicon_table
from datapipelinedemo_spark.plans import tweets as TW
from datapipelinedemo_spark.sources.csv import TWEET_SCHEMA

PATTERNS = [
    ("soda", 1, "Brand", "Soda"),
    ("ginger ale", 2, "Brand", "Ginger Ale"),
    ("ginger", 1, "Ingredient", "Ginger"),  # overlapped by "ginger ale"
    ("tonic", 1, "Brand", None),  # no id → surface text
    ("olive oil", 2, "Ingredient", "Olive Oil"),
    ("olive", 1, "Ingredient", "Olive"),
    ("sugar", 1, "Ingredient", "Sugar"),
    ("butter", 1, "Ingredient", "Butter"),
    ("butter", 1, "Ingredient", "Butter"),  # duplicate pattern line
]

LEXICON = [("good", 0.5), ("bad", -0.5), ("love", 0.8), ("flat", -0.2)]

URL = "https://t.co/search?q=x&searchq={kw}%20until%202020-01-01 lang%3Aen until x"

ROWS = [
    # Timestamp, Text, Comments, Likes, Retweets, Page_URL
    ("Mar 4", "I love ginger ale so good", "3", "1.2K", "7", URL.format(kw="ginger%20ale")),
    ("Jan 15, 2018", "soda with olive oil and sugar", None, "15", "1K", URL.format(kw="soda")),
    ("Jan 20, 2018", "soda soda soda is bad", "abc", "0", "0", URL.format(kw="soda")),
    ("Feb 2, 2019", "tonic with butter butter", "9", "3M", "12", URL.format(kw="tonic")),
    ("Feb 9, 2019", "nothing matches here", "1", "2", "3", URL.format(kw="tonic")),  # sentinel→dropped
    ("Mar 5", "ginger ale and tonic flat", "0", "55", "1.1K", URL.format(kw="ginger%20ale")),
    (None, "soda good", "1", "1", "1", URL.format(kw="soda")),  # null ts→dropped
    ("not a date", "soda good", "1", "1", "1", URL.format(kw="soda")),  # unparseable→dropped
    ("Apr 1, 2019", "soda good", "1", "1", "1", "https://x.com/nomatch"),  # no keyword→dropped
    ("Apr 2, 2019", "soda good", "1", "1", "1", URL.format(kw="coffee")),  # unknown kw→Category2 'None', KEPT
    ("May 3, 2019", "love coke and soda", "2", "12", "5", URL.format(kw="coke")),  # coke→ginger ale
    ("May 4, 2019", "pop with butter flat", "0", "3", "2", URL.format(kw="pop")),  # pop→ginger ale
    ("May 9, 2019", "sugar soda love", "1", None, None, URL.format(kw="soda")),  # null counts→0
]


# ---------------------------------------------------------------- oracle --
def _parse_num(x):
    if x is None:
        return 0
    try:
        s = x.strip()
        if s.upper().endswith("K"):
            return int(float(s[:-1]) * 1000)
        if s.upper().endswith("M"):
            return int(float(s[:-1]) * 1000000)
        return int(float(s))
    except Exception:
        return 0


def _log2b(x):
    return int(round(math.log2(x + 1))) + 1 if True else 0


def _round_half_even_log2(x):
    import numpy as np

    return int(round(float(np.log2(x + 1)))) + 1


def _keyword(url):
    if url is None:
        return None
    try:
        after = re.sub(r"^[^?]*\?", "", url)
        spaced = after.replace("%20", " ")
        m = re.search(r"searchq=(.+) until", spaced)
        if not m:
            return None
        kw = m.group(1).replace(" lang%3Aen", "").strip()
        return kw or None
    except Exception:
        return None


# demo.py:122-131 exact map; unknown keyword → None → str(None)='None'
CATS = {"fizzy drink": "soda", "soda": "soda", "sparkling water": "soda",
        "tonic": "tonic",
        "ginger ale": "ginger ale", "coke": "ginger ale", "pop": "ginger ale"}


def _phrases(text):
    toks = re.findall(TOKEN_RE, text.lower())
    pats = {}
    for p, n, _, eid in PATTERNS:
        pats[(p, n)] = eid
    matches = []
    for (p, n), eid in pats.items():
        ptoks = p.split(" ")
        for i in range(len(toks) - n + 1):
            if toks[i : i + n] == ptoks:
                matches.append((i, n, eid if eid is not None else p))
    # spaCy filter_spans: longest first, ties earlier start
    matches.sort(key=lambda m: (-m[1], m[0]))
    kept = []
    for m in matches:
        if not any(m[0] < k[0] + k[1] and k[0] < m[0] + m[1] for k in kept):
            kept.append(m)
    out = []
    for m in kept:
        if m[2] not in out:
            out.append(m[2])
    return out if out else ["empty"]


def _sentiment(text):
    lex = dict(LEXICON)
    toks = [t for t in re.split(r"[^a-z0-9']+", text.lower()) if t]
    vals = [lex[t] for t in toks if t in lex]
    return float(sum(vals) / len(vals)) if vals else 0.0


def _oracle_rows():
    out = []
    for ts, text, c, l, r, url in ROWS:
        if ts is None:
            continue
        ts2 = ts + " 2020" if len(ts) < 8 else ts.replace(",", "")
        try:
            d = datetime.strptime(ts2, "%b %d %Y")
        except ValueError:
            continue
        kw = _keyword(url)
        if kw is None:
            continue
        cat = CATS.get(kw, "None")  # unknown kept, like the reference
        likes = _parse_num(l)
        rts = _parse_num(r)
        phrases = _phrases(text)
        if phrases == ["empty"]:
            continue
        out.append(
            {
                "year": d.year,
                "month": d.month,
                "cat": cat,
                "likes_log": _round_half_even_log2(likes),
                "rts_log": _round_half_even_log2(rts),
                "phrases": phrases,
                "sent": _sentiment(text),
            }
        )
    return out


def _oracle_a1():
    agg = {}
    for row in _oracle_rows():
        for p in row["phrases"]:
            key = (p, row["cat"])
            lab = f"Frequency_{row['year']}-{row['month']}"
            agg.setdefault(key, {}).setdefault(lab, 0)
            agg[key][lab] += row["rts_log"] + 1
    return agg


def _oracle_smoothed(pairs):
    """A2 (per phrase) or A3 (per ordered phrase pair, keyed Category2,
    Topic, Topic2): Σ sent·(likes_log+1) / (Σ likes_log + 1)."""
    num, den = {}, {}
    for row in _oracle_rows():
        ph = row["phrases"]
        if pairs:
            keys = [
                (row["cat"], ph[i], ph[j])
                for i in range(len(ph))
                for j in range(i + 1, len(ph))
            ]
        else:
            keys = [(p, row["cat"]) for p in ph]
        lab = f"Sentiment_{row['year']}-{row['month']}"
        for key in keys:
            num.setdefault(key, {}).setdefault(lab, 0.0)
            den.setdefault(key, {}).setdefault(lab, 0)
            num[key][lab] += row["sent"] * (row["likes_log"] + 1)
            den[key][lab] += row["likes_log"]
    return {
        k: {lab: num[k][lab] / (den[k][lab] + 1) for lab in num[k]} for k in num
    }


def _oracle_a2():
    return _oracle_smoothed(pairs=False)


def _oracle_a3():
    return _oracle_smoothed(pairs=True)


def _oracle_a4():
    agg = {}
    for row in _oracle_rows():
        ph = row["phrases"]
        for i in range(len(ph)):
            for j in range(i + 1, len(ph)):
                key = (ph[i], ph[j], row["cat"])
                lab = f"Frequency_{row['year']}-{row['month']}"
                agg.setdefault(key, {}).setdefault(lab, 1)
                agg[key][lab] += row["rts_log"]
    return agg


# ----------------------------------------------------------------- tests --
def _inputs(spark, rows=ROWS):
    return (
        spark.createDataFrame(rows, TWEET_SCHEMA),
        pattern_table_from_rows(spark, PATTERNS),
        lexicon_table(spark, LEXICON),
    )


@pytest.fixture(scope="module")
def outputs(spark):
    return TW.run_all(*_inputs(spark))


def _wide_to_dict(df, keys):
    rows = df.collect()
    out = {}
    for r in rows:
        d = r.asDict()
        key = tuple(d.pop(k) for k in keys)
        d.pop("Category1")
        out[key] = {k: v for k, v in d.items() if v != 0}
    return out


def test_frequency_monthly_matches_oracle(outputs):
    got = _wide_to_dict(outputs["frequency_monthly"], ["Topic", "Category2"])
    exp = _oracle_a1()
    assert got == exp


def _assert_smoothed_matches(got, exp):
    assert set(got) == set(exp)
    for k in exp:
        for lab, v in exp[k].items():
            assert got[k].get(lab, 0.0) == pytest.approx(v, abs=1e-6), (k, lab)


def test_sentiments_monthly_matches_oracle(outputs):
    got = _wide_to_dict(outputs["sentiments_monthly"], ["Topic", "Category2"])
    _assert_smoothed_matches(got, _oracle_a2())


def test_sentiment2d_matches_oracle(outputs):
    got = _wide_to_dict(
        outputs["sentiment2d_monthly"], ["Category2", "Topic", "Topic2"]
    )
    _assert_smoothed_matches(got, _oracle_a3())


def test_frequency_2d_matches_oracle(outputs):
    got = _wide_to_dict(
        outputs["frequency_2d_monthly"], ["Topic", "Topic2", "Category2"]
    )
    exp = _oracle_a4()
    assert got == exp


def test_schema_shape_matches_golden(outputs):
    f = outputs["frequency_monthly"]
    assert f.columns[0] == "Topic"
    assert f.columns[1] == "Category2"
    assert f.columns[-1] == "Category1"
    assert all(c.startswith("Frequency_") for c in f.columns[2:-1])
    s2 = outputs["sentiment2d_monthly"]
    assert s2.columns[:3] == ["Category2", "Topic", "Topic2"]
    f2 = outputs["frequency_2d_monthly"]
    assert f2.columns[:3] == ["Topic", "Topic2", "Category2"]


# Month 2018-10 holds only single-phrase tweets: it has topic rows but
# no topic-pair rows.
LABEL_ROWS = [
    ("Jan 3, 2018", "soda and sugar", "1", "1", "1", URL.format(kw="soda")),
    ("Feb 3, 2018", "tonic with butter", "1", "3", "2", URL.format(kw="tonic")),
    ("Oct 3, 2018", "soda good", "1", "1", "1", URL.format(kw="soda")),
    ("Oct 9, 2018", "butter flat", "1", "1", "1", URL.format(kw="soda")),
]


def test_label_sets_and_order(spark):
    """1-D headers hold every month with a phrase, 2-D headers only the
    months with a phrase pair; both sorted as strings, not by date."""
    outs = TW.run_all(*_inputs(spark, LABEL_ROWS))
    one = ["2018-1", "2018-10", "2018-2"]
    two = ["2018-1", "2018-2"]
    expected = {
        "frequency_monthly": (["Topic", "Category2"], "Frequency", one),
        "sentiments_monthly": (["Topic", "Category2"], "Sentiment", one),
        "frequency_2d_monthly": (["Topic", "Topic2", "Category2"], "Frequency", two),
        "sentiment2d_monthly": (["Category2", "Topic", "Topic2"], "Sentiment", two),
    }
    for name, (keys, prefix, months) in expected.items():
        assert outs[name].columns == [
            *keys, *(f"{prefix}_{m}" for m in months), "Category1"
        ], name
    freq = _wide_to_dict(outs["frequency_monthly"], ["Topic", "Category2"])
    assert freq[("Soda", "None")]["Frequency_2018-10"] == 3  # Retweets_log 2, +1

    # the public builders still work standalone, one argument each
    enriched = TW.enrich(*_inputs(spark, LABEL_ROWS))
    try:
        for name in expected:
            alone = getattr(TW, name)(enriched)
            assert alone.columns == outs[name].columns, name
            assert sorted(alone.collect()) == sorted(outs[name].collect()), name
    finally:
        enriched.unpersist()


def test_run_all_runs_one_label_collect(spark, monkeypatch):
    inputs = _inputs(spark)
    calls = []
    collect = type(inputs[0]).collect

    def counting(df):
        calls.append(df)
        return collect(df)

    monkeypatch.setattr(type(inputs[0]), "collect", counting)
    TW.run_all(*inputs)
    assert len(calls) == 1


def test_run_all_jobs_keep_caller_job_group(spark):
    """Every job run_all launches, the pool's pivot jobs included,
    carries the caller's job group."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    inputs = _inputs(spark)

    def probe(group):
        sc.setJobGroup(group, group)
        spark.range(1).collect()
        return st.getJobIdsForGroup(group)

    ungrouped = set(st.getJobIdsForGroup(None))
    try:
        first = max(probe("tweets-before"))
        sc.setJobGroup("tweets-run-all", "tweets-run-all")
        with warnings.catch_warnings():
            warnings.filterwarnings("error", message=".*Tags will not be inherited")
            TW.run_all(*inputs)
        last = min(probe("tweets-after"))
    finally:
        sc.setJobGroup(None, None)
    assert set(st.getJobIdsForGroup(None)) == ungrouped
    grouped = set(st.getJobIdsForGroup("tweets-run-all"))
    # job ids are sequential: everything between the probes is run_all's
    assert grouped == set(range(first + 1, last))
    # the label job plus at least one job per pivot output
    assert len(grouped) >= 5


def test_run_all_releases_enrichment_cache(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_PIN", raising=False)  # default local pins
    cache = spark._jsparkSession.sharedState().cacheManager()
    inputs = _inputs(spark)
    before = cache.cachedData().size()
    for _ in range(2):
        TW.run_all(*inputs)
    assert cache.cachedData().size() == before


def test_run_all_records_every_traced_span(spark, monkeypatch):
    """The traced benchmark's wrappers (tweetbench/spans.py) still hook
    every layer run_all goes through."""
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tweetbench", "spans.py",
    )
    spec = importlib.util.spec_from_file_location("tweetbench_spans", path)
    spans = importlib.util.module_from_spec(spec)
    monkeypatch.setitem(sys.modules, spec.name, spans)  # for its dataclass
    spec.loader.exec_module(spans)

    rec, held = spans.SpanRecorder(), []
    try:
        with spans.instrument(rec, held):
            outs = TW.run_all(*_inputs(spark))
    finally:
        for df in held:
            df.unpersist()
    names = {s.name for s in rec.spans}
    assert names == {
        "enrich", "ner", "sentiment", "pairs",
        *(f"tweets.{name}" for name in outs),
    }
    counts = {name for _, name in rec.counts}
    assert {"enrich.rows_out", "ner.phrases_out", "pairs.rows_out"} <= counts


GOLDEN_DIR = "/root/reference"
GOLDEN = {
    "frequency_monthly": ("Frequency_monthly_demo.csv",
                          ["Topic", "Category2"], "Frequency"),
    "sentiments_monthly": ("Sentiments_monthly_demo.csv",
                           ["Topic", "Category2"], "Sentiment"),
    "frequency_2d_monthly": ("Frequency_2d_monthly_demo.csv",
                             ["Topic", "Topic2", "Category2"], "Frequency"),
    "sentiment2d_monthly": ("Sentiment2D_monthly_demo.csv",
                            ["Category2", "Topic", "Topic2"], "Sentiment"),
}


@pytest.mark.skipif(
    not os.path.exists(os.path.join(GOLDEN_DIR, "Frequency_monthly_demo.csv")),
    reason="reference golden CSVs absent",
)
def test_header_fidelity_vs_golden_csvs(outputs):
    """Diff our column-name STRUCTURE against the actual reference
    golden headers: key columns in the same order first, month columns
    named <Prefix>_<Y>-<M> with the month NOT zero-padded and sorted
    lexicographically (the reference's value-less pivot string-sorts
    its labels), constant Category1 last. The month SET differs (the
    goldens come from the reference's unseeded 2017-2020 sample run,
    ours from the committed fixture) — the contract under test is the
    header GRAMMAR, shared by both."""
    for name, (fname, keys, prefix) in GOLDEN.items():
        with open(os.path.join(GOLDEN_DIR, fname)) as fh:
            golden = fh.readline().rstrip("\n").split(",")
        # golden grammar: keys, then months, then Category1
        assert golden[: len(keys)] == keys, name
        assert golden[-1] == "Category1", name
        gmonths = golden[len(keys):-1]
        pat = re.compile(rf"^{prefix}_\d{{4}}-([1-9]|1[0-2])$")
        assert all(pat.match(c) for c in gmonths), (name, gmonths[:3])
        assert gmonths == sorted(gmonths), name  # string-sorted

        # ours follows the identical grammar
        ours = outputs[name].columns
        assert ours[: len(keys)] == keys, name
        assert ours[-1] == "Category1", name
        omonths = ours[len(keys):-1]
        assert all(pat.match(c) for c in omonths), (name, omonths[:3])
        assert omonths == sorted(omonths), name


def test_extract_phrases_plan_has_two_joins(spark):
    """The span check reads the token array its exploded row carries:
    the only joins are the broadcast first-token join and the reattach
    onto the input rows."""
    from datapipelinedemo_spark.functions.ner import extract_phrases

    df = spark.createDataFrame([(1, "ginger ale")], "id long, text string")
    out = extract_phrases(
        df, "text", pattern_table_from_rows(spark, PATTERNS), "id"
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"\bJoin \w+", plan)) == 2, plan


def test_ner_semantics(spark):
    from datapipelinedemo_spark.functions.ner import extract_phrases

    df = spark.createDataFrame(
        [
            (1, "olive oil with Olive and butter BUTTER"),
            (2, "ginger ale vs ginger"),
            (3, "no matches at all"),
            (4, "tonic tonic"),
        ],
        "id long, text string",
    )
    pats = pattern_table_from_rows(spark, PATTERNS)
    out = {
        r.id: r.All_phrases
        for r in extract_phrases(df, "text", pats, "id").collect()
    }
    # "olive oil" wins over "olive" at same start; later lone "olive" matches
    assert out[1] == ["Olive Oil", "Olive", "Butter"]
    # "ginger ale" wins; trailing lone "ginger" still matches
    assert set(out[2]) == {"Ginger Ale", "Ginger"}
    assert out[3] == ["empty"]
    assert out[4] == ["tonic"]  # no ent_id → surface form, deduped
