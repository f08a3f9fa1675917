"""Exhaustive BM25 oracle and answer checks.

The oracle scores every document that holds a query term, straight from
the corpus tokens, with the engine's published formula (BM25, k1=1.2,
b=0.75, idf = ln(1 + (N - df + 0.5) / (df + 0.5)), contributions summed
in sorted-term order). It shares no code with the engine except the
analyzer spec (lower-case, split on runs of non letters/digits), which is
restated here.
"""

from __future__ import annotations

import math
from collections import Counter

import numpy as np
import regex

K1, B = 1.2, 0.75
_SPLIT = regex.compile(r"[^\p{L}\p{N}]+")
SCORE_TOL = 1.5e-4  # one unit of the engine's 4-dp rounding, plus slack


def analyze(text: str) -> list[str]:
    return [t for t in _SPLIT.split(text.lower()) if t] if text else []


def idf(n_docs: int, df: int) -> float:
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


class Oracle:
    """Postings of a static corpus, keyed by the engine's doc ids."""

    def __init__(self, texts: list[str], langs: list[str], doc_ids: np.ndarray):
        self.tokens = [analyze(t) for t in texts]
        self.doc_ids = np.asarray(doc_ids, dtype=np.int64)
        self.dl = np.array([len(t) for t in self.tokens], dtype=np.float64)
        self.langs = langs
        self.n_docs = len(texts)
        self.total_tokens = int(self.dl.sum())
        self.avgdl = self.total_tokens / self.n_docs
        post: dict[str, tuple[list, list]] = {}
        for row, toks in enumerate(self.tokens):
            for term, tf in Counter(toks).items():
                p = post.setdefault(term, ([], []))
                p[0].append(row)
                p[1].append(tf)
        self.postings = {
            t: (np.array(r, dtype=np.int64), np.array(f, dtype=np.float64))
            for t, (r, f) in post.items()
        }

    def df(self, term: str) -> int:
        p = self.postings.get(term)
        return 0 if p is None else len(p[0])

    def _saturate(self, tf: np.ndarray, rows: np.ndarray, w: float) -> np.ndarray:
        return w * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * self.dl[rows] / self.avgdl))

    def rows_matching(self, terms, need: int = 1) -> np.ndarray:
        """Corpus rows holding at least ``need`` distinct terms of ``terms``."""
        hits = Counter()
        for t in sorted(set(terms)):
            if t in self.postings:
                hits.update(self.postings[t][0].tolist())
        return np.array(sorted(r for r, c in hits.items() if c >= need), dtype=np.int64)

    def scores(self, terms) -> dict[int, float]:
        """row -> BM25 score over the present query terms, sorted-term order."""
        out: dict[int, float] = {}
        for t in sorted(set(terms)):
            if t not in self.postings:
                continue
            rows, tf = self.postings[t]
            c = self._saturate(tf, rows, idf(self.n_docs, len(rows)))
            for r, v in zip(rows.tolist(), c.tolist()):
                out[r] = out.get(r, 0.0) + v
        return out

    def ranking(self, scored: dict[int, float], rows) -> list[tuple[int, float]]:
        """(doc_id, score) for ``rows``, ordered score desc, doc id asc."""
        ranked = [(int(self.doc_ids[r]), scored[r]) for r in rows]
        ranked.sort(key=lambda x: (-x[1], x[0]))
        return ranked

    def topk(self, query: str, mode: str = "or", msm: int | None = None,
             must_not: str | None = None, min_dl: int | None = None):
        terms = sorted(set(analyze(query)))
        present = [t for t in terms if t in self.postings]
        need = len(terms) if mode == "and" else (msm or 1)
        if mode == "and" and len(present) < len(terms):
            return []
        rows = self.rows_matching(present, need)
        if must_not:
            neg = self.rows_matching(analyze(must_not))
            rows = np.setdiff1d(rows, neg)
        if min_dl is not None:
            rows = rows[self.dl[rows] >= min_dl]
        return self.ranking(self.scores(present), rows.tolist())

    def count(self, query: str, mode: str = "or") -> int:
        terms = sorted(set(analyze(query)))
        if mode == "and" and any(t not in self.postings for t in terms):
            return 0
        return len(self.rows_matching(terms, len(terms) if mode == "and" else 1))

    def facet(self, query: str, size: int = 10) -> list[tuple[str, int]]:
        c = Counter(self.langs[r] for r in self.rows_matching(analyze(query)).tolist())
        return sorted(c.items(), key=lambda x: (-x[1], x[0]))[:size]

    def phrase(self, phrase: str, slop: int) -> list[tuple[int, float]]:
        """Ordered phrase: tf = distinct end positions of an in-order chain
        with at most ``slop`` extra tokens in the gaps; weight = Σ slot idf."""
        slots = analyze(phrase)
        if not slots or any(t not in self.postings for t in slots):
            return []
        w = sum(idf(self.n_docs, self.df(t)) for t in slots)
        cand = self.rows_matching(slots, len(set(slots)))
        scored, rows = {}, []
        for r in cand.tolist():
            toks = self.tokens[r]
            pos = {t: [i for i, x in enumerate(toks) if x == t] for t in set(slots)}
            ends = set()
            for p0 in pos[slots[0]]:
                ends |= _chain_ends(pos, slots, 1, p0, slop)
            if ends:
                tf = np.array([float(len(ends))])
                scored[r] = float(self._saturate(tf, np.array([r]), w)[0])
                rows.append(r)
        return self.ranking(scored, rows)


def _chain_ends(pos, slots, i, prev, budget) -> set[int]:
    if i == len(slots):
        return {prev}
    out = set()
    for p in pos[slots[i]]:
        gap = p - prev - 1
        if 0 <= gap <= budget:
            out |= _chain_ends(pos, slots, i + 1, p, budget - gap)
    return out


def check_ranked(got: list[tuple[int, float]], want: list[tuple[int, float]], k: int) -> str | None:
    """None when ``got`` is a correct top-k of ``want``; else a reason.
    Position i must carry the oracle's i-th score (4 dp); the doc there must
    score that value in the oracle, which admits any order among exact ties."""
    exp = want[:k]
    if len(got) != len(exp):
        return f"{len(got)} hits, oracle has {len(exp)}"
    score_of = dict(want)
    seen = set()
    for i, ((doc, s), (_, ws)) in enumerate(zip(got, exp)):
        if abs(s - ws) > SCORE_TOL:
            return f"rank {i}: score {s} != oracle {ws:.6f}"
        if doc in seen or doc not in score_of or abs(score_of[doc] - ws) > SCORE_TOL:
            return f"rank {i}: doc {doc} is not an oracle hit with score {ws:.6f}"
        seen.add(doc)
    return None
