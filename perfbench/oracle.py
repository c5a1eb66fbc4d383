"""Independent BM25 scorer over the generated token ids (numpy only).

It shares no code with the engine: it never sees the rendered text, only
the token ids the generator drew, and keeps its own live-document set in
step with the appends and deletes the benchmark issues.  Scoring follows
the engine's documented formula (natural-log idf with the +1 guard,
k1 = 1.2, b = 0.75, global N and avg_dl over live documents, facet
restriction applied after scoring statistics are fixed).
"""

from __future__ import annotations

import math

import numpy as np

from .gen import WORDS, Docs

K1, B = 1.2, 0.75
TOL = 1e-6 + 1e-9  # engine rounds to 6 decimals
_RANK = {w: i for i, w in enumerate(WORDS)}


class Scorer:
    def __init__(self) -> None:
        self._doc_ids: list[np.ndarray] = []
        self._lang: list[np.ndarray] = []
        self._len: list[np.ndarray] = []
        self._pairs: list[np.ndarray] = []  # (term, doc_row, tf) blocks
        self._rows = 0
        self.live = np.zeros(0, dtype=bool)
        self._index = None

    def add(self, docs: Docs) -> None:
        n = len(docs)
        rows = np.repeat(np.arange(self._rows, self._rows + n), np.diff(docs.offsets))
        key = docs.tokens * (1 << 32) + rows
        uniq, tf = np.unique(key, return_counts=True)
        self._pairs.append(np.stack([uniq >> 32, uniq & 0xFFFFFFFF, tf], axis=1))
        self._doc_ids.append(docs.doc_id)
        self._lang.append(docs.lang)
        self._len.append(np.diff(docs.offsets))
        self._rows += n
        self.live = np.concatenate([self.live, np.ones(n, dtype=bool)])
        self._index = None

    def delete(self, doc_ids: np.ndarray) -> None:
        self.live[np.isin(self.doc_id, doc_ids)] = False

    @property
    def doc_id(self) -> np.ndarray:
        return np.concatenate(self._doc_ids)

    def live_ids(self) -> np.ndarray:
        return self.doc_id[self.live]

    def _postings(self):
        if self._index is None:
            pairs = np.concatenate(self._pairs)
            order = np.argsort(pairs[:, 0], kind="stable")
            pairs = pairs[order]
            starts = np.searchsorted(pairs[:, 0], np.arange(len(WORDS) + 1))
            self._index = (pairs, starts, np.concatenate(self._len), np.concatenate(self._lang))
        return self._index

    def scores(self, query: str, lang: str | None = None) -> dict[str, float]:
        """Every live candidate's score, rounded like the engine:
        ``{doc_id (str): score}``.  Query terms are whitespace-split
        lowercase words, as :func:`gen.query_stream` writes them."""
        pairs, starts, lengths, langs = self._postings()
        live = self.live
        n = int(live.sum())
        avg_dl = lengths[live].sum() / n
        scores = np.zeros(len(live))
        hit = np.zeros(len(live), dtype=bool)
        for t in dict.fromkeys(query.lower().split()):
            r = _RANK.get(t)
            if r is None:
                continue
            block = pairs[starts[r] : starts[r + 1]]
            block = block[live[block[:, 1]]]
            df = len(block)
            if df == 0:
                continue
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            tf = block[:, 2].astype(np.float64)
            dl = lengths[block[:, 1]].astype(np.float64)
            part = idf * (tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avg_dl)))
            np.add.at(scores, block[:, 1], np.round(part, 9))
            hit[block[:, 1]] = True
        if lang is not None:
            hit &= langs == lang
        rows = np.flatnonzero(hit)
        ids = self.doc_id
        return {str(ids[r]): round(float(scores[r]), 6) for r in rows.tolist()}


def check_top_k(got: list[tuple[str, float]], want: dict[str, float], k: int = 10) -> str | None:
    """None when *got* (``[(doc_id, score)]`` in rank order) is a correct
    top-k for the full candidate scores *want*; else a one-line reason.
    Scores must agree within 1e-6; ids may differ only among tied scores."""
    best = sorted(want.values(), reverse=True)[:k]
    if len(got) != len(best):
        return f"{len(got)} results, expected {len(best)}"
    for i, ((doc, score), ref) in enumerate(zip(got, best)):
        if doc not in want:
            return f"rank {i + 1}: doc {doc} is not a candidate"
        if abs(want[doc] - score) > TOL:
            return f"rank {i + 1}: doc {doc} score {score} != {want[doc]}"
        if abs(score - ref) > TOL:
            return f"rank {i + 1}: score {score} != expected {ref}"
    if len({d for d, _ in got}) != len(got):
        return "duplicate doc ids"
    return None
