"""Span recorder and call-site instrumentation for the traced run.

Spans are kept in memory (name, start, end, parent, pass id) and written
as JSON lines when the run ends. A span's self time is its duration
minus the part of its interval that its child spans cover.

``instrument`` wraps the pipeline's public layer functions from outside
the program for the duration of a ``with`` block. Each wrapper first
materializes the call's DataFrame input (outside the span), then times
the call plus a ``cache()`` + ``count()`` on its result, so the span
holds exactly that layer's work and the next layer reads the
materialized result.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    pass_id: int | None
    id: int


class SpanRecorder:
    def __init__(self):
        self.spans: list[Span] = []
        self.counts: dict[tuple[int | None, str], float] = {}
        self._stack: list[int] = []
        self.pass_id: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), float("nan"),
                               parent, self.pass_id, sid))
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid].end = time.perf_counter()

    def count(self, name: str, value: float) -> None:
        key = (self.pass_id, name)
        self.counts[key] = self.counts.get(key, 0) + value

    def self_time(self, span: Span) -> float:
        covered, last = 0.0, span.start
        kids = sorted((s for s in self.spans if s.parent == span.id),
                      key=lambda s: s.start)
        for k in kids:
            lo, hi = max(k.start, last), min(k.end, span.end)
            if hi > lo:
                covered += hi - lo
                last = hi
        return (span.end - span.start) - covered

    def totals(self, pass_id: int | None) -> dict[str, float]:
        """Summed duration of each span name within one pass, plus
        ``<name>.self`` self times."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s.pass_id != pass_id:
                continue
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start)
            out[s.name + ".self"] = out.get(s.name + ".self", 0.0) + self.self_time(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "self": self.self_time(s)}) + "\n")
            for (pid, name), v in self.counts.items():
                f.write(json.dumps({"count": name, "pass_id": pid, "value": v}) + "\n")


def materialize(df, held: list):
    """Cache and count ``df``; ``held`` collects it for release."""
    df = df.cache()
    held.append(df)
    return df, df.count()


@contextlib.contextmanager
def patched(obj, name: str, wrapper_factory):
    orig = getattr(obj, name)
    setattr(obj, name, wrapper_factory(orig))
    try:
        yield
    finally:
        setattr(obj, name, orig)


@contextlib.contextmanager
def instrument(rec: SpanRecorder, held: list):
    """Wrap ``plans.tweets.enrich`` (span ``enrich``), the NER and
    sentiment calls it makes (``ner``, ``sentiment``), the four output
    builders (``tweets.<output>``) and ``operators.pairs.explode_pairs``
    (``pairs``), recording row and token counts beside each span.
    The counts are taken when the block exits, so that their queries
    stay out of every span. Every frame the wrappers cache is appended
    to ``held``."""
    from pyspark.sql import functions as F

    from datapipelinedemo_spark.operators import pairs as P
    from datapipelinedemo_spark.plans import tweets as TW

    ner_tokens = F.size(F.regexp_extract_all(
        F.coalesce(F.col("Text"), F.lit("")),
        F.lit(r"[A-Za-z0-9_']+|[^A-Za-z0-9_'\s]"), F.lit(0)))
    sent_tokens = F.size(F.filter(
        F.split(F.lower(F.coalesce(F.col("Text"), F.lit(""))), r"[^a-z0-9']+"),
        lambda t: t != ""))

    pending: list = []  # count queries, run when the block exits

    def ner(orig):
        def wrapped(df, text_col, patterns, id_col, out_col="All_phrases"):
            df, _ = materialize(df, held)
            with rec.span("ner"):
                out, _ = materialize(orig(df, text_col, patterns, id_col, out_col), held)

            def count():
                empty = F.col(out_col) == F.array(F.lit("empty"))
                r = out.agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.sum(F.when(empty, 1).otherwise(0)).alias("empty"),
                    F.sum(F.when(empty, 0).otherwise(F.size(out_col))).alias("phrases"),
                ).first()
                rec.count("ner.tokens_in", df.select(F.sum(ner_tokens)).first()[0] or 0)
                rec.count("ner.rows_out", r["rows"])
                rec.count("ner.empty_rows", r["empty"])
                rec.count("ner.phrases_out", r["phrases"])
            pending.append(count)
            return out
        return wrapped

    def sentiment(orig):
        def wrapped(df, text_col, lexicon, id_col, out_col="Sentiment"):
            df, _ = materialize(df, held)
            with rec.span("sentiment"):
                out, n = materialize(orig(df, text_col, lexicon, id_col, out_col), held)
            rec.count("sentiment.rows_out", n)

            def count():
                rec.count("sentiment.tokens_in",
                          df.select(F.sum(sent_tokens)).first()[0] or 0)
                rec.count("sentiment.scored_rows",
                          out.filter(F.col(out_col) != 0.0).count())
            pending.append(count)
            return out
        return wrapped

    def enrich(orig):
        def wrapped(tweets, patterns, lexicon, **kw):
            with rec.span("enrich"):
                out, n = materialize(orig(tweets, patterns, lexicon, **kw), held)
            rec.count("enrich.rows_out", n)
            return out
        return wrapped

    def output(name):
        def factory(orig):
            def wrapped(enriched):
                with rec.span("tweets." + name):
                    out, n = materialize(orig(enriched), held)
                rec.count(f"tweets.{name}_rows", n)
                return out
            return wrapped
        return factory

    def pairs(orig):
        def wrapped(df, arr_col, *a, **kw):
            df, _ = materialize(df, held)
            with rec.span("pairs"):
                out, n = materialize(orig(df, arr_col, *a, **kw), held)
            rec.count("pairs.calls", 1)
            rec.count("pairs.rows_out", n)
            return out
        return wrapped

    with contextlib.ExitStack() as stack:
        stack.enter_context(patched(TW, "enrich", enrich))
        stack.enter_context(patched(TW, "extract_phrases", ner))
        stack.enter_context(patched(TW, "score_sentiment", sentiment))
        stack.enter_context(patched(P, "explode_pairs", pairs))
        for name in ("frequency_monthly", "sentiments_monthly",
                     "sentiment2d_monthly", "frequency_2d_monthly"):
            stack.enter_context(patched(TW, name, output(name)))
        yield
    for count in pending:
        count()
