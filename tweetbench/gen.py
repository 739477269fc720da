"""Seeded input generator for the tweet-pipeline benchmark.

Writes what the reference pipeline reads: multi-file tweet CSVs
(``Timestamp, Text, Comments, Likes, Retweets, Page_URL``), an
entity_ruler ``patterns.jsonl`` dictionary and sentiment lexicon rows.
The same seed and settings give byte-identical files.

The inputs carry the reference's quirks: short ``"MMM d"`` (current
year) and long ``"MMM d, yyyy"`` timestamps, null and unparseable
timestamps, ``K``/``M`` counts, garbage counts, empty fields, malformed
and unknown-keyword ``Page_URL``s, mixed-case phrase mentions,
punctuation and apostrophes, id-less dictionary patterns, synonym
patterns sharing one id, duplicate dictionary lines, and overlapping
multi-token phrases that exercise spaCy ``filter_spans`` resolution.

Vocabularies are disjoint by construction: dictionary tokens, filler
words and lexicon words never collide, so the phrase and sentiment
densities are the ones the settings ask for.
"""

from __future__ import annotations

import argparse
import bisect
import csv
import itertools
import json
import math
import os
import random

WORKLOADS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "workloads.json")

MONTH_NAMES = [
    "Jan", "Feb", "Mar", "Apr", "May", "Jun",
    "Jul", "Aug", "Sep", "Oct", "Nov", "Dec",
]
# the reference's seven search keywords (URL-encoded) and some it does
# not map to a category (Category2 'None', rows kept)
KEYWORDS = [
    "soda", "sparkling%20water", "fizzy%20drink", "tonic",
    "ginger%20ale", "coke", "pop",
]
UNKNOWN_KEYWORDS = ["coffee", "club%20soda", "soda%20water", "tea%20leaf"]
PUNCT = [",", "!", "?", ".", ":"]
COLUMNS = ["Timestamp", "Text", "Comments", "Likes", "Retweets", "Page_URL"]
LABELS = ["Brand", "Ingredient", "Motivation"]

_CONS = "bcdfghjklmnprstvz"
_VOW = "aeiou"


def _syllables() -> list[str]:
    return [c + v for c in _CONS for v in _VOW]


def _words(rng: random.Random, n: int, n_syl: int) -> list[str]:
    """``n`` distinct pseudo-words of ``n_syl`` syllables."""
    syl = _syllables()
    space = len(syl) ** n_syl
    if n > space:
        raise ValueError(f"cannot draw {n} distinct {n_syl}-syllable words")
    out = []
    for code in rng.sample(range(space), n):
        w = []
        for _ in range(n_syl):
            code, r = divmod(code, len(syl))
            w.append(syl[r])
        out.append("".join(w))
    return out


class Vocab:
    """Disjoint word pools: dictionary tokens are 3 syllables, filler
    words 2 or 4, lexicon words 3 syllables with a ``y`` suffix."""

    def __init__(self, rng: random.Random, n_dict_tokens: int,
                 n_fillers: int, n_lexicon: int):
        self.dict_tokens = _words(rng, n_dict_tokens, 3)
        half = n_fillers // 2
        self.fillers = _words(rng, half, 2) + _words(rng, n_fillers - half, 4)
        self.lexicon = [w + "y" for w in _words(rng, n_lexicon, 3)]


def make_dictionary(cfg: dict, seed: int) -> tuple[list[dict], Vocab, list]:
    """entity_ruler pattern objects with the reference dictionary's shape.

    ``cfg`` keys: ``n_patterns``, ``multi_token_share``,
    ``label_weights`` (Brand, Ingredient, Motivation), ``n_lexicon``.
    About a tenth of the multi-token patterns come in overlap groups
    ``a b`` / ``b c`` / ``a b c`` / ``a`` that only resolve correctly
    under longest-then-earliest span selection; they are listed last,
    and the third return value holds each group's ``a b c`` mention.
    """
    rng = random.Random(f"{seed}-dictionary")
    n = cfg["n_patterns"]
    vocab = Vocab(rng, n_dict_tokens=max(4000, n // 2), n_fillers=6000,
                  n_lexicon=cfg["n_lexicon"])
    toks = vocab.dict_tokens
    # first tokens come from a smaller pool, so many patterns share one
    # (as brand/ingredient dictionaries do: "organic ...", "diet ...")
    first_pool = toks[: len(toks) // 3]
    texts: list[list[str]] = []
    seen: set[str] = set()

    def add(words: list[str]) -> bool:
        key = " ".join(words)
        if key in seen:
            return False
        seen.add(key)
        texts.append(words)
        return True

    n_groups = int(n * cfg["multi_token_share"] * 0.1 / 4)
    groups = []
    for _ in range(n_groups):
        a, b, c = rng.choices(toks, k=3)
        groups.append([[a, b], [b, c], [a, b, c], [a]])
    lengths = [2, 3, 4, 5, 6]
    len_p = [0.6, 0.27, 0.1, 0.02, 0.01]

    def regular() -> list[str]:
        if rng.random() < cfg["multi_token_share"]:
            k = rng.choices(lengths, weights=len_p)[0]
            return [rng.choice(first_pool)] + rng.choices(toks, k=k - 1)
        return [rng.choice(toks)]

    while len(texts) < n - 4 * n_groups:
        add(regular())
    mentions = []
    for g in groups:
        if all([add(words) for words in g]):
            mentions.append(g[2])
    while len(texts) < n:
        add(regular())

    labels = rng.choices(LABELS, weights=cfg["label_weights"], k=n)
    pats = []
    for i, words in enumerate(texts):
        obj = {"label": labels[i],
               "pattern": [{"LOWER": t} for t in words]}
        r = rng.random()
        if r < 0.05 and i > 0:
            # synonym: shares the id of an earlier pattern that has one
            j = rng.randrange(i)
            if "id" in pats[j]:
                obj["id"] = pats[j]["id"]
        elif r < 0.15:
            pass  # no id: the program emits the mention's surface form
        else:
            obj["id"] = " ".join(t.capitalize() for t in words)
        pats.append(obj)
    return pats, vocab, mentions


def write_patterns(pats: list[dict], path: str, seed: int) -> None:
    """One JSON object per line; about 2% of lines are repeated, as in
    the reference file, where loading must deduplicate them."""
    rng = random.Random(f"{seed}-duplicates")
    with open(path, "w") as f:
        for obj in pats:
            line = json.dumps(obj) + "\n"
            f.write(line)
            if rng.random() < 0.02:
                f.write(line)


def make_lexicon(vocab: Vocab, seed: int) -> list[tuple[str, float]]:
    """(token, polarity) rows; polarities on a 0.05 grid in [-1, 1],
    some exactly 0.0 (a scored word that contributes nothing)."""
    rng = random.Random(f"{seed}-lexicon")
    return [(w, round(rng.randint(-20, 20) * 0.05, 2)) for w in vocab.lexicon]


def write_lexicon(rows: list[tuple[str, float]], path: str) -> None:
    with open(path, "w", newline="") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["token", "polarity"])
        w.writerows(rows)


def read_lexicon(path: str) -> list[tuple[str, float]]:
    with open(path, newline="") as f:
        r = csv.reader(f)
        next(r)
        return [(tok, float(p)) for tok, p in r]


def _poisson(rng: random.Random, mean: float) -> int:
    """Knuth's Poisson draw (means here are small)."""
    limit, k, p = math.exp(-mean), 0, rng.random()
    while p > limit:
        k += 1
        p *= rng.random()
    return k


class TweetMaker:
    """Draws tweets for one dictionary. ``cfg`` keys: ``tokens`` (min,
    max), ``phrases_per_tweet`` (Poisson mean), ``phrase_pool`` (how
    many dictionary patterns tweets mention), ``zipf_s`` (0 = uniform
    mentions), ``overlap_share`` (mentions written as an overlap
    group), ``lexicon_share`` (share of filler slots holding a lexicon
    word), ``months`` (``"YYYY-M"`` labels)."""

    def __init__(self, cfg: dict, pats: list[dict], vocab: Vocab,
                 lexicon: list[tuple[str, float]], overlaps: list[list[str]]):
        self.cfg = cfg
        self.vocab = vocab
        self.lex_words = [w for w, _ in lexicon]
        self.pool = pats[: cfg["phrase_pool"]]
        # cumulative Zipf weights over pool rank (s = 0: uniform)
        self.pool_cum = list(itertools.accumulate(
            r ** -cfg["zipf_s"] for r in range(1, len(self.pool) + 1)))
        self.overlaps = overlaps
        self.months = [tuple(int(x) for x in m.split("-")) for m in cfg["months"]]

    def timestamp(self, rng: random.Random) -> str | None:
        r = rng.random()
        if r < 0.04:
            return None
        if r < 0.06:
            return "not a date"
        y, m = rng.choice(self.months)
        day = rng.randint(1, 28)
        if y == 2020 and rng.random() < 0.5:
            return f"{MONTH_NAMES[m - 1]} {day}"  # short form: year 2020
        return f"{MONTH_NAMES[m - 1]} {day}, {y}"

    @staticmethod
    def count(rng: random.Random) -> str | None:
        r = rng.random()
        if r < 0.1:
            return None
        if r < 0.25:
            return f"{rng.randint(1, 99) / 10:.1f}K"
        if r < 0.3:
            return f"{rng.randint(1, 39) / 10:.1f}M"
        if r < 0.33:
            return "n/a"
        return str(rng.randint(0, 4999))

    @staticmethod
    def url(rng: random.Random) -> str | None:
        r = rng.random()
        if r < 0.03:
            return None
        if r < 0.06:
            return "https://x.example/status/nosearch"
        if r < 0.12:
            kw = rng.choice(UNKNOWN_KEYWORDS)
        else:
            kw = rng.choice(KEYWORDS)
        lang = "%20lang%3Aen" if rng.random() < 0.5 else ""
        return f"https://x.example/search?searchq={kw}{lang}%20until%202020-07-01"

    def text(self, rng: random.Random) -> str | None:
        cfg = self.cfg
        if rng.random() < 0.01:
            return None
        lo, hi = cfg["tokens"]
        n_tok = rng.randint(lo, hi)
        words: list[str] = []
        fillers = self.vocab.fillers
        for _ in range(n_tok):
            r = rng.random()
            if r < cfg["lexicon_share"]:
                words.append(rng.choice(self.lex_words))
            elif r < cfg["lexicon_share"] + 0.02:
                words.append("don't")
            elif r < cfg["lexicon_share"] + 0.03:
                words.append("#" + rng.choice(fillers))
            else:
                words.append(rng.choice(fillers))
            if rng.random() < 0.05:
                words[-1] += rng.choice(PUNCT)
        k = _poisson(rng, cfg["phrases_per_tweet"])
        for _ in range(k):
            cased = rng.random() < 0.3
            if self.overlaps and rng.random() < cfg["overlap_share"]:
                mention = rng.choice(self.overlaps)
            else:
                pat = self.pool[bisect.bisect_left(
                    self.pool_cum, rng.random() * self.pool_cum[-1])]
                mention = [t["LOWER"] for t in pat["pattern"]]
            if cased:
                mention = [w.capitalize() for w in mention]
            at = rng.randint(0, len(words))
            words[at:at] = mention
        return " ".join(words)

    def rows(self, rng: random.Random, n: int) -> list[tuple]:
        return [
            (self.timestamp(rng), self.text(rng), self.count(rng),
             self.count(rng), self.count(rng), self.url(rng))
            for _ in range(n)
        ]


def write_tweets(rows: list[tuple], out_dir: str, n_files: int) -> None:
    """Split ``rows`` over ``n_files`` CSVs with a header each; a null
    field is written as an empty unquoted field."""
    os.makedirs(out_dir, exist_ok=True)
    per = -(-len(rows) // n_files)
    for i in range(n_files):
        with open(os.path.join(out_dir, f"part-{i}.csv"), "w", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(COLUMNS)
            w.writerows(rows[i * per:(i + 1) * per])


def read_tweets(in_dir: str) -> list[tuple]:
    """Rows of every ``part-*.csv`` in ``in_dir``, empty fields as None."""
    rows = []
    for name in sorted(os.listdir(in_dir)):
        if not name.endswith(".csv"):
            continue
        with open(os.path.join(in_dir, name), newline="") as f:
            r = csv.reader(f)
            next(r)
            rows.extend(tuple(v if v != "" else None for v in row) for row in r)
    return rows


def generate(cfg: dict, seed: int, out_dir: str) -> dict:
    """Write every input of one workload under ``out_dir``; return the
    paths (``patterns``, ``lexicon``, ``tweets``)."""
    pats, vocab, overlaps = make_dictionary(cfg, seed)
    lexicon = make_lexicon(vocab, seed)
    os.makedirs(out_dir, exist_ok=True)
    paths = {
        "patterns": os.path.join(out_dir, "patterns.jsonl"),
        "lexicon": os.path.join(out_dir, "lexicon.csv"),
        "tweets": os.path.join(out_dir, "tweets"),
    }
    write_patterns(pats, paths["patterns"], seed)
    write_lexicon(lexicon, paths["lexicon"])
    maker = TweetMaker(cfg, pats, vocab, lexicon, overlaps)
    rng = random.Random(f"{seed}-tweets")
    write_tweets(maker.rows(rng, cfg["n_tweets"]), paths["tweets"], cfg["n_files"])
    return paths


def workload_config(name: str) -> dict:
    """Settings of one workload from ``workloads.json``: the shared
    dictionary and month settings overlaid with the workload's own."""
    with open(WORKLOADS) as f:
        spec = json.load(f)
    if name not in spec["workloads"]:
        raise KeyError(f"unknown workload {name!r}; known: {sorted(spec['workloads'])}")
    return {**spec["dictionary"], "months": spec["months"], **spec["workloads"][name]}


def main() -> None:
    ap = argparse.ArgumentParser(description="Write one workload's seeded inputs.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    cfg = workload_config(args.workload)
    paths = generate(cfg, args.seed, args.out)
    paths["n_tweets"] = cfg["n_tweets"]
    print(json.dumps(paths))


if __name__ == "__main__":
    main()
