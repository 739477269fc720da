"""Independent pure-Python oracle for the four pipeline outputs.

Recomputes, row by row and without Spark, what the reference pipeline
defines: timestamp clean and parse, ``K``/``M`` counts, log2 buckets,
search keyword and category from ``Page_URL``, dictionary NER with
spaCy ``filter_spans`` resolution (longest span first, ties to the
earlier start, id or surface form, set-dedup in that order), snapped
lexicon sentiment, then the A1-A4 aggregates (A1 ``Σ(Retweets_log+1)``,
A2/A3 ``Σ snap(s·(Likes_log+1)) / (Σ Likes_log + 1)``, A4
``1 + Σ Retweets_log``) pivoted over lexicographically sorted
``<Prefix>_<Y>-<M>`` month labels.

Run as a script it checks pass outputs written by ``run.py``: one pass
per output directory, each against the oracle of its input, and
prints one JSON object ``{"<pass>": null | "<first mismatch>"}``.
"""

from __future__ import annotations

import argparse
import csv
import datetime as dt
import json
import math
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

NER_TOKEN = re.compile(r"[A-Za-z0-9_']+|[^A-Za-z0-9_'\s]")
SENT_SPLIT = re.compile(r"[^a-z0-9']+")
NUMBER = re.compile(r"^\s*([0-9]*\.?[0-9]+)\s*[KkMm]?\s*$")
MONTHS = {m: i + 1 for i, m in enumerate(gen.MONTH_NAMES)}
CATEGORIES = {
    "fizzy drink": "soda", "soda": "soda", "sparkling water": "soda",
    "tonic": "tonic",
    "ginger ale": "ginger ale", "coke": "ginger ale", "pop": "ginger ale",
}
OUTPUTS = {
    # name: (key columns, label prefix)
    "frequency_monthly": (["Topic", "Category2"], "Frequency"),
    "sentiments_monthly": (["Topic", "Category2"], "Sentiment"),
    "sentiment2d_monthly": (["Category2", "Topic", "Topic2"], "Sentiment"),
    "frequency_2d_monthly": (["Topic", "Topic2", "Category2"], "Frequency"),
}


class Dictionary:
    """entity_ruler patterns indexed by first token. Lines repeating a
    (pattern, id) pair are one pattern."""

    def __init__(self, pattern_objs):
        self.by_first: dict[str, list[tuple[tuple[str, ...], str | None]]] = {}
        seen = set()
        for obj in pattern_objs:
            toks = tuple(
                str(t.get("LOWER", t.get("lower", ""))).lower()
                for t in obj["pattern"] if isinstance(t, dict)
            )
            if not toks or "" in toks or (toks, obj.get("id")) in seen:
                continue
            seen.add((toks, obj.get("id")))
            self.by_first.setdefault(toks[0], []).append((toks, obj.get("id")))

    @classmethod
    def from_jsonl(cls, path: str) -> "Dictionary":
        with open(path) as f:
            return cls(json.loads(line) for line in f if line.strip())

    @classmethod
    def from_rows(cls, rows) -> "Dictionary":
        """(pattern, n_tokens, label, ent_id) rows."""
        return cls({"pattern": [{"LOWER": t} for t in p.split(" ")], "id": i}
                   for p, _, _, i in rows)

    def phrases(self, text: str | None) -> list[str]:
        if text is None:
            return []
        toks = NER_TOKEN.findall(text)
        low = [t.lower() for t in toks]
        spans = []
        for start, tok in enumerate(low):
            for pat, ent_id in self.by_first.get(tok, ()):
                n = len(pat)
                if tuple(low[start:start + n]) == pat:
                    surface = " ".join(toks[start:start + n])
                    spans.append((n, start, surface if ent_id is None else ent_id))
        spans.sort(key=lambda s: (-s[0], s[1]))
        kept: list[tuple[int, int, str]] = []
        for n, start, phrase in spans:
            if all(start >= ks + kn or ks >= start + n for kn, ks, _ in kept):
                kept.append((n, start, phrase))
        return list(dict.fromkeys(p for _, _, p in kept))


def snap(x: float) -> int:
    return math.floor(x * 1000000.0 + 0.5)


def sentiment(text: str | None, lexicon: dict[str, float]) -> float:
    if text is None:
        return 0.0
    hits = [lexicon[t] for t in SENT_SPLIT.split(text.lower()) if t in lexicon]
    if not hits:
        return 0.0
    return (float(sum(snap(p) for p in hits)) / 1000000.0) / float(len(hits))


def parse_date(ts: str | None) -> dt.date | None:
    if ts is None:
        return None
    s = ts + " 2020" if len(ts) < 8 else ts.replace(",", "")
    parts = s.split(" ")
    if len(parts) != 3 or parts[0] not in MONTHS:
        return None
    if not (parts[1].isdigit() and 1 <= len(parts[1]) <= 2):
        return None
    if not (parts[2].isdigit() and len(parts[2]) == 4):
        return None
    try:
        return dt.date(int(parts[2]), MONTHS[parts[0]], int(parts[1]))
    except ValueError:
        return None


def human_number(s: str | None) -> int:
    s = "0" if s is None else s
    m = NUMBER.match(s)
    if not m:
        return 0
    if re.search(r"[Kk]\s*$", s):
        scale = 1000.0
    elif re.search(r"[Mm]\s*$", s):
        scale = 1000000.0
    else:
        scale = 1.0
    return int(float(m.group(1)) * scale)


def log_bucket(x: int) -> int:
    return math.floor(math.log(x + 1.0) / math.log(2.0) + 0.5) + 1


def keyword(url: str | None) -> str | None:
    if url is None:
        return None
    spaced = re.sub(r"^[^?]*\?", "", url).replace("%20", " ")
    m = re.search(r"searchq=(.+) until", spaced)
    kw = (m.group(1) if m else "").replace(" lang%3Aen", "").strip()
    return kw or None


def enrich(rows, dictionary: Dictionary, lexicon: dict[str, float]):
    """(Year, Month, Category2, Likes_log, Retweets_log, Sentiment,
    phrases) per kept tweet."""
    for ts, text, _comments, likes, rts, url in rows:
        d = parse_date(ts)
        kw = keyword(url)
        if d is None or kw is None:
            continue
        phrases = dictionary.phrases(text)
        if not phrases:
            continue
        yield (d.year, d.month, CATEGORIES.get(kw, "None"),
               log_bucket(human_number(likes)), log_bucket(human_number(rts)),
               sentiment(text, lexicon), phrases)


def tables(rows, dictionary: Dictionary, lexicon: dict[str, float]) -> dict:
    """The four outputs as ``{name: (header, {key tuple: values})}``."""
    freq1: dict = {}
    sent1: dict = {}
    freq2: dict = {}
    sent2: dict = {}
    for y, m, cat, llog, rlog, s, phrases in enrich(rows, dictionary, lexicon):
        ws = snap(s * float(llog + 1))
        for t in phrases:
            k = (t, cat, y, m)
            freq1[k] = freq1.get(k, 0) + rlog + 1
            a = sent1.setdefault(k, [0, 0])
            a[0] += ws
            a[1] += llog
        for i, t1 in enumerate(phrases):
            for t2 in phrases[i + 1:]:
                k = (t1, t2, cat, y, m)
                freq2[k] = freq2.get(k, 1) + rlog
                a = sent2.setdefault(k, [0, 0])
                a[0] += ws
                a[1] += llog

    def smooth(a):
        return (float(a[0]) / 1000000.0) / float(a[1] + 1)

    out = {}
    for name, cells in (
        ("frequency_monthly", freq1),
        ("sentiments_monthly", {k: smooth(a) for k, a in sent1.items()}),
        ("frequency_2d_monthly", freq2),
        ("sentiment2d_monthly",
         {(k[2], k[0], k[1], k[3], k[4]): smooth(a) for k, a in sent2.items()}),
    ):
        keys, prefix = OUTPUTS[name]
        labels = sorted({f"{prefix}_{k[-2]}-{k[-1]}" for k in cells})
        col = {lab: i for i, lab in enumerate(labels)}
        zero = 0 if prefix == "Frequency" else 0.0
        wide: dict = {}
        for k, v in cells.items():
            row = wide.setdefault(k[:-2], [zero] * len(labels))
            row[col[f"{prefix}_{k[-2]}-{k[-1]}"]] = v
        out[name] = (keys + labels + ["Category1"], wide)
    return out


def compare(expected: tuple, path: str) -> str | None:
    """None if the single CSV part under ``path`` holds exactly the
    expected table (any row order), else the first difference."""
    header, wide = expected
    parts = [f for f in os.listdir(path) if f.endswith(".csv")]
    if len(parts) != 1:
        return f"{path}: {len(parts)} csv parts"
    n_keys = len(header) - len(next(iter(wide.values()), [])) - 1
    with open(os.path.join(path, parts[0]), newline="") as f:
        r = csv.reader(f)
        got_header = next(r, None)
        if got_header != header:
            return f"{path}: header {got_header[:6] if got_header else None}... != {header[:6]}..."
        seen = 0
        for row in r:
            key = tuple(row[:n_keys])
            want = wide.get(key)
            if want is None:
                return f"{path}: unexpected row {key}"
            got = [float(v) for v in row[n_keys:-1]]
            if got != want or row[-1] != "Beverage":
                return f"{path}: row {key} values differ"
            seen += 1
    if seen != len(wide):
        return f"{path}: {seen} rows, expected {len(wide)}"
    return None


def check_pass(expected: dict, out_dir: str) -> str | None:
    for name in OUTPUTS:
        err = compare(expected[name], os.path.join(out_dir, name))
        if err:
            return err
    return None


def digest(out_dir: str) -> tuple:
    """Order-independent fingerprint of a pass's four CSVs: each file's
    header plus the sum of its row-line hashes."""
    fp = []
    for name in OUTPUTS:
        path = os.path.join(out_dir, name)
        for part in sorted(f for f in os.listdir(path) if f.endswith(".csv")):
            with open(os.path.join(path, part)) as f:
                fp.append((name, f.readline(), sum(hash(line) for line in f) % (1 << 64)))
    return tuple(fp)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--patterns", required=True)
    ap.add_argument("--lexicon", required=True)
    ap.add_argument("--passes", required=True,
                    help='JSON file: [{"id": ..., "input": dir, "output": dir}]')
    args = ap.parse_args()
    dictionary = Dictionary.from_jsonl(args.patterns)
    lexicon = dict(gen.read_lexicon(args.lexicon))
    with open(args.passes) as f:
        passes = json.load(f)
    # passes over one input must write the same tables: the first is
    # checked cell by cell, a later one only if its digest differs
    verified: dict[str, tuple] = {}
    expected: dict[str, dict] = {}
    result = {}
    for p in passes:
        try:
            fp = digest(p["output"])
        except OSError as e:
            result[str(p["id"])] = f"unreadable output: {e}"
            continue
        if verified.get(p["input"]) == fp:
            result[str(p["id"])] = None
            continue
        if p["input"] not in expected:
            expected[p["input"]] = tables(gen.read_tweets(p["input"]), dictionary, lexicon)
        err = check_pass(expected[p["input"]], p["output"])
        if err is None:
            verified[p["input"]] = fp
        result[str(p["id"])] = err
    print(json.dumps(result))


if __name__ == "__main__":
    main()
