"""Seeded synthetic page generator (numpy + pyarrow; no Spark).

The same seed gives the same pages. Nothing here imports the engine, so
the inputs stay fixed while the engine changes.

Make-up of a page:

- terms drawn from a Zipf-Mandelbrot law over a seeded vocabulary, so
  head terms occur in most pages and tail terms in a handful;
- log-normal page lengths with a long right tail;
- mostly lower-case words joined by spaces, plus a small share of
  Capitalised and UPPER words, punctuation separators (``, . - ; :``),
  newlines, tabs and no-break spaces, non-ASCII letters, and leading or
  trailing separators that make the analyzer emit empty tokens, so every
  rule of the tokenizer runs.

Every parameter is a constant below. Only the shapes of the two laws come
from published text statistics; the values are assumptions, not fitted to
a measured web corpus (README.md, "Inputs", says which is which).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Term frequency: Zipf-Mandelbrot, p(rank r) ~ 1 / (r + ZIPF_Q) ** ZIPF_S.
# The law's form is Mandelbrot's (1953); an exponent near 1 for word
# frequencies in English text is Zipf's (1949) and is borne out by
# Piantadosi's review (Psychon. Bull. Rev. 21, 2014). The values of
# ZIPF_S, ZIPF_Q and VOCAB_SIZE are assumptions: they put ~12 terms in
# almost every page and most of the vocabulary in a handful of pages.
VOCAB_SIZE = 60_000
ZIPF_S = 1.07
ZIPF_Q = 2.7
# Page length in tokens: log-normal, the shape web workload models use for
# the body of document sizes (Barford & Crovella, SIGMETRICS 1998). The
# median, sigma and clip range are assumptions that keep a run's corpus
# small; they are not measured on extracted web text.
LEN_MEDIAN = 150
LEN_SIGMA = 0.7
LEN_MIN, LEN_MAX = 8, 2000
# Shares of token forms and page edges (assumptions): they exist so that
# every rule of the analyzer runs, not to mimic a measured distribution.
NON_ASCII_SHARE = 0.02  # of vocabulary words
CAP_SHARE = 0.05  # of tokens, Capitalised
UPPER_SHARE = 0.01  # of tokens, UPPER
ODD_SHARE = 0.005  # of tokens, with punctuation the analyzer keeps
LEAD_SHARE = 0.01  # of pages, starting with "- " (a leading empty token)
STOP_SHARE = 0.3  # of pages, ending with "." (a trailing empty token)

ASCII = np.array(list("abcdefghijklmnopqrstuvwxyz"))
# non-ASCII letters whose lower/upper mapping is one code point each way
# in both ECMAScript and Python, so the inputs never hinge on a locale
NON_ASCII = np.array(list("éèüöñçøåжзлд"))

# separator between two tokens and its probability (an assumption, like
# the shares above)
SEPS = [" ", ", ", ". ", "-", "; ", ": ", "\n", "\t", "\u00a0", " - ", "\u3000"]
SEP_P = [0.853, 0.04, 0.04, 0.02, 0.01, 0.01, 0.015, 0.005, 0.005, 0.001, 0.001]

# the sentinel page every mutate append batch carries; its text and
# terms do not depend on the seed (see run.py, stale-catalog probe)
SENTINEL_TEXT = "Stale-catalog sentinel: zqxsentinel page."
SENTINEL_TERM = "zqxsentinel"


def vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    """n distinct words, NON_ASCII_SHARE of them with a non-ASCII letter. The seeded order is
    the Zipf rank order (rank 0 = most frequent)."""
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n:
        m = n - len(words) + 64
        lens = np.clip(np.round(rng.gamma(4.0, 1.4, m)), 1, 14).astype(int)
        letters = rng.choice(ASCII, size=(m, 14))
        accent = rng.random(m) < NON_ASCII_SHARE
        accent_at = rng.integers(0, 14, m)
        accent_ch = rng.choice(NON_ASCII, m)
        for i in range(m):
            row = letters[i, : lens[i]].copy()
            if accent[i]:
                row[accent_at[i] % lens[i]] = accent_ch[i]
            w = "".join(row)
            if w not in seen:
                seen.add(w)
                words.append(w)
                if len(words) == n:
                    break
    # short words are frequent in real text: sort by length with a
    # seeded jitter so the head is mostly short but not strictly so
    keys = np.array([len(w) for w in words]) + rng.normal(0, 2.5, n)
    return [words[i] for i in np.argsort(keys, kind="stable")]


class PageGenerator:
    """Draws pages from one seeded vocabulary and term distribution."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.vocab = vocabulary(self.rng, VOCAB_SIZE)
        ranks = np.arange(VOCAB_SIZE, dtype=np.float64)
        p = 1.0 / (ranks + ZIPF_Q) ** ZIPF_S
        self.cdf = np.cumsum(p / p.sum())
        self.lower = np.array(self.vocab, dtype=object)
        self.cap = np.array([w.capitalize() for w in self.vocab], dtype=object)
        self.upper = np.array([w.upper() for w in self.vocab], dtype=object)

    def pages(self, first_id: int, n: int, sentinel: bool = False) -> pa.Table:
        """n pages with dense doc ids first_id .. first_id+n-1. With
        sentinel=True the first page's text is SENTINEL_TEXT."""
        rng = self.rng
        lens = np.clip(np.round(rng.lognormal(np.log(LEN_MEDIAN), LEN_SIGMA, n)), LEN_MIN, LEN_MAX).astype(np.int64)
        total = int(lens.sum())
        ids = np.searchsorted(self.cdf, rng.random(total), side="right")
        ids = np.minimum(ids, len(self.vocab) - 1)
        toks = self.lower[ids]
        form = rng.random(total)
        cap = form < CAP_SHARE
        up = form > 1.0 - UPPER_SHARE
        toks[cap] = self.cap[ids[cap]]
        toks[up] = self.upper[ids[up]]
        # punctuation the analyzer does not split on
        odd = rng.random(total) < ODD_SHARE
        toks[odd] = toks[odd] + rng.choice(np.array(["!", "?", ")", "'s"], dtype=object), int(odd.sum()))
        seps = np.array(SEPS, dtype=object)[rng.choice(len(SEPS), total, p=SEP_P)]
        ends = np.cumsum(lens)
        # page end: no separator, or a full stop (a trailing empty token)
        seps[ends - 1] = np.where(rng.random(n) < STOP_SHARE, ".", "")
        pieces = (toks + seps).tolist()
        lead = rng.random(n) < LEAD_SHARE
        texts = []
        start = 0
        for i, end in enumerate(ends.tolist()):
            t = "".join(pieces[start:end])
            texts.append("- " + t if lead[i] else t)
            start = end
        if sentinel and n:
            texts[0] = SENTINEL_TEXT
        doc_ids = np.arange(first_id, first_id + n, dtype=np.int64)
        hosts = rng.integers(0, 5000, n)
        urls = [f"https://site{h}.example/p/{d}" for h, d in zip(hosts.tolist(), doc_ids.tolist())]
        return pa.table({
            "doc_id": pa.array(doc_ids, pa.int64()),
            "url": pa.array(urls, pa.string()),
            "text": pa.array(texts, pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int32()),
        })


def write_pages(table: pa.Table, path: str, n_files: int) -> None:
    """Write `table` as n_files parquet files under directory `path`."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = -(-n // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"))
