"""Independent oracle for the benchmark's outputs.

Imports nothing from the engine. It re-states, from their definitions:

- yaii's standard tokenizer, ``input.trim().toLowerCase()
  .split(/[\\s\\-,;:.]+/)``, with the ECMAScript whitespace set that JS
  ``\\s`` and ``trim()`` use (which is not Python's);
- boolean, prefix and phrase/slop matching as set algebra over that
  tokenizer's output for the ``text`` field (stopwords kept);
- Lucene's BM25 (k1 = 1.2, b = 0.75, no (k1 + 1) factor):
  ``idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))``,
  ``score = sum idf(t) * tf / (tf + k1 * (1 - b + b * dl / avgdl))``,
  ranked by (-score, doc_id).

Collection statistics (N, avgdl, df) count every page ever added,
deleted ones included: deletes hide pages from results but leave the
statistics alone, and a merge carries them over unchanged (the rule
``merge_segments`` documents).

Queries are nested tuples:
``("tok", t)``, ``("and", [q, ...])``, ``("or", [q, ...])``,
``("not", q)``, ``("prefix", p)``, ``("phrase", (t, ...), slop)``.
"""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd

# ECMAScript WhiteSpace + LineTerminator (ES2023 sections 12.2-12.3)
JS_WHITESPACE = (
    "\u0009\u000a\u000b\u000c\u000d\u0020\u00a0\u1680"
    + "".join(chr(c) for c in range(0x2000, 0x200B))
    + "\u2028\u2029\u202f\u205f\u3000\ufeff"
)
_SPLIT = re.compile("[" + re.escape(JS_WHITESPACE) + r"\-,;:.]+")

K1 = 1.2
B = 0.75
# relative tolerance of a BM25 score, and of a tie between two scores
SCORE_REL = 1e-9


def tokenize(text: str) -> list[str]:
    """JS ``text.trim().toLowerCase().split(/[\\s\\-,;:.]+/)``; like JS,
    separators at either end yield empty tokens."""
    return _SPLIT.split(text.strip(JS_WHITESPACE).lower())


class Corpus:
    """The text field of every page added, plus the set of deleted ids."""

    def __init__(self) -> None:
        self._doc_ids: list[np.ndarray] = []
        self._tokens: list[str] = []
        self._dls: list[int] = []
        self.deleted: set[int] = set()
        self._index = None

    def add(self, doc_ids, texts) -> None:
        """Add pages; ids must be larger than every id added before."""
        doc_ids = np.asarray(doc_ids, dtype=np.int64)
        for t in texts:
            toks = tokenize(t)
            self._tokens.extend(toks)
            self._dls.append(len(toks))
        self._doc_ids.append(doc_ids)
        self._index = None

    def delete(self, doc_ids) -> None:
        self.deleted.update(int(d) for d in doc_ids)

    def copy(self) -> "Corpus":
        c = Corpus()
        c._doc_ids = list(self._doc_ids)
        c._tokens = list(self._tokens)
        c._dls = list(self._dls)
        c.deleted = set(self.deleted)
        return c

    # -- index over the flat token stream, sorted by (term, doc, pos) --

    def _ix(self):
        if self._index is None:
            docs = np.concatenate(self._doc_ids) if self._doc_ids else np.empty(0, np.int64)
            dls = np.asarray(self._dls, dtype=np.int64)
            starts = np.cumsum(dls) - dls
            flat_doc = np.repeat(docs, dls)
            flat_pos = np.arange(len(self._tokens), dtype=np.int64) - np.repeat(starts, dls)
            codes, terms = pd.factorize(pd.Series(self._tokens, dtype=object))
            order = np.argsort(codes, kind="stable")
            bounds = np.concatenate([[0], np.cumsum(np.bincount(codes, minlength=len(terms)))])
            tid = np.repeat(np.arange(len(terms)), np.diff(bounds))
            doc = flat_doc[order]
            first = np.ones(len(doc), dtype=np.int64)  # first occurrence in a doc
            first[1:] = (doc[1:] != doc[:-1]) | (tid[1:] != tid[:-1])
            df = np.bincount(tid, weights=first, minlength=len(terms)).astype(np.int64)
            self._index = {
                "df": dict(zip(terms, df.tolist())),
                "docs": docs,
                "dl": dict(zip(docs.tolist(), dls.tolist())),
                "term_id": {t: i for i, t in enumerate(terms)},
                "terms": sorted(terms),
                "bounds": bounds,
                "doc": doc,
                "pos": flat_pos[order],
            }
        return self._index

    @property
    def n_docs(self) -> int:
        return int(sum(len(d) for d in self._doc_ids))

    @property
    def avgdl(self) -> float:
        return float(sum(self._dls)) / self.n_docs

    def terms(self) -> list[str]:
        """Every distinct term, sorted by code point."""
        return self._ix()["terms"]

    def occurrences(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        """(doc, pos) of every occurrence of term, sorted by doc then pos."""
        ix = self._ix()
        i = ix["term_id"].get(term)
        if i is None:
            return np.empty(0, np.int64), np.empty(0, np.int64)
        lo, hi = ix["bounds"][i], ix["bounds"][i + 1]
        return ix["doc"][lo:hi], ix["pos"][lo:hi]

    def tf(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        """(doc ids, term frequencies) over every page, deleted included."""
        d, _ = self.occurrences(term)
        u, c = np.unique(d, return_counts=True)
        return u, c

    def doc_freqs(self) -> dict[str, int]:
        """term -> pages containing it, deleted ones included."""
        return self._ix()["df"]

    def live(self) -> np.ndarray:
        docs = self._ix()["docs"]
        if not self.deleted:
            return docs
        return docs[~np.isin(docs, np.fromiter(self.deleted, np.int64))]

    def _drop_deleted(self, ids: np.ndarray) -> np.ndarray:
        if not self.deleted:
            return ids
        return ids[~np.isin(ids, np.fromiter(self.deleted, np.int64))]

    # -- boolean --

    def match(self, q) -> np.ndarray:
        """Sorted live doc ids matching query q."""
        return self._drop_deleted(self._match(q))

    def _match(self, q) -> np.ndarray:
        kind = q[0]
        if kind == "tok":
            return self.tf(q[1])[0]
        if kind == "and":
            sets = [self._match(c) for c in q[1] if c[0] != "not"]
            acc = sets[0] if sets else self.live()
            for s in sets[1:]:
                acc = np.intersect1d(acc, s)
            for c in q[1]:
                if c[0] == "not":
                    acc = np.setdiff1d(acc, self._match(c[1]))
            return acc
        if kind == "or":
            parts = [self._match(c) for c in q[1]]
            return np.unique(np.concatenate(parts)) if parts else np.empty(0, np.int64)
        if kind == "not":
            return np.setdiff1d(self.live(), self._match(q[1]))
        if kind == "prefix":
            p = q[1]
            hits = [self.tf(t)[0] for t in self.terms() if t.startswith(p)]
            return np.unique(np.concatenate(hits)) if hits else np.empty(0, np.int64)
        if kind == "phrase":
            return self._phrase(q[1], q[2])
        raise ValueError(f"unknown query kind {kind!r}")

    def _phrase(self, terms, slop: int) -> np.ndarray:
        """Docs with positions p0 < p1 < ... (p_j an occurrence of
        terms[j]) and (p_last - p0) - (len(terms) - 1) <= slop."""
        occ = [self.occurrences(t) for t in terms]
        cand = occ[0][0]
        for d, _ in occ[1:]:
            cand = np.intersect1d(cand, d)
        out = []
        for doc in np.unique(cand).tolist():
            plists = []
            for d, p in occ:
                lo, hi = np.searchsorted(d, [doc, doc + 1])
                plists.append(p[lo:hi])
            if self._window(plists, slop):
                out.append(doc)
        return np.asarray(out, dtype=np.int64)

    @staticmethod
    def _window(plists, slop: int) -> bool:
        # for each start, take the nearest later occurrence of each next
        # term: any other choice ends at or after it
        n = len(plists)
        for p0 in plists[0].tolist():
            prev = p0
            for pl in plists[1:]:
                i = int(np.searchsorted(pl, prev, side="right"))
                if i == len(pl):
                    return False  # later starts cannot do better
                prev = int(pl[i])
            if (prev - p0) - (n - 1) <= slop:
                return True
        return False

    # -- BM25 --

    def bm25(self, terms, mode: str = "or") -> dict[int, float]:
        """Score of every live doc that matches (any term for mode "or",
        every term for mode "and"); duplicate terms count once."""
        ix = self._ix()
        n, avgdl = self.n_docs, self.avgdl
        uniq = sorted(set(terms))
        scores: dict[int, float] = {}
        hits: dict[int, int] = {}
        for t in uniq:
            docs, tfs = self.tf(t)
            if len(docs) == 0:
                if mode == "and":
                    return {}
                continue
            df = len(docs)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            for d, f in zip(docs.tolist(), tfs.tolist()):
                dl = ix["dl"][d]
                scores[d] = scores.get(d, 0.0) + idf * f / (f + K1 * (1.0 - B + B * dl / avgdl))
                hits[d] = hits.get(d, 0) + 1
        need = len(uniq) if mode == "and" else 1
        return {d: s for d, s in scores.items() if hits[d] >= need and d not in self.deleted}


def top_k(scores: dict[int, float], k: int) -> list[tuple[int, float]]:
    return sorted(scores.items(), key=lambda x: (-x[1], x[0]))[:k]


def _close(a: float, b: float, rel: float) -> bool:
    return abs(a - b) <= rel * max(abs(a), abs(b), 1e-300)


def check_topk(got: list[tuple[int, float]], scores: dict[int, float], k: int) -> str | None:
    """None if `got` is a correct top-k of `scores`, else why not.

    Ranks may differ only among scores equal within SCORE_REL: each returned
    doc's score must match the oracle's, the returned scores must equal
    the oracle's top-k scores rank by rank, and no doc may repeat."""
    want = top_k(scores, k)
    if len(got) != len(want):
        return f"{len(got)} results, expected {len(want)}"
    if len({d for d, _ in got}) != len(got):
        return "duplicate doc ids"
    for i, ((d, s), (_, ws)) in enumerate(zip(got, want)):
        if d not in scores:
            return f"rank {i}: doc {d} should not match"
        if not _close(s, scores[d], SCORE_REL):
            return f"rank {i}: doc {d} scored {s!r}, expected {scores[d]!r}"
        if not _close(s, ws, SCORE_REL):
            return f"rank {i}: score {s!r}, expected {ws!r} (doc {want[i][0]})"
    return None
