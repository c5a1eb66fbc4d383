"""Seeded input generators.  The same seed always gives the same inputs.

Everything here is plain numpy / pyarrow: the program under test only ever
receives the generated files and strings, never this module's state.

- :func:`corpus` -- a Zipf(1.1) corpus over a fixed synthetic vocabulary
  with lognormal document lengths and a ``lang`` facet, kept as token-id
  arrays (for the independent scorer) and rendered to text (for the engine).
- :func:`query_stream` -- 1-4 term queries mixing head and tail terms,
  a fifth of them restricted to one ``lang`` facet.
- :func:`write_tables` -- the ten analytics tables (TPC-H-ish star schema,
  ``events``, ``documents``, ``embeddings``) with the column types and value
  domains the registry queries are written against.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 50_000
ZIPF_S = 1.1
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = np.array([0.44, 0.14, 0.13, 0.15, 0.14])
HEAD_TERMS = 200  # "head" = the 200 most frequent vocabulary ranks


def _word(i: int) -> str:
    """Bijective base-26 spelling of rank *i* ('a', 'b', ..., 'z', 'aa', ...)."""
    s = []
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s.append(chr(97 + r))
    return "".join(s)


WORDS = [_word(i) for i in range(VOCAB_SIZE)]


def _zipf_cdf() -> np.ndarray:
    p = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
    c = np.cumsum(p)
    return c / c[-1]


_CDF = _zipf_cdf()


@dataclass
class Docs:
    """A batch of generated documents: ids, facet, and token ids per doc
    (``tokens[offsets[d]:offsets[d + 1]]``)."""

    doc_id: np.ndarray  # int64
    lang: np.ndarray  # str
    tokens: np.ndarray  # int64 term ranks, concatenated
    offsets: np.ndarray  # int64, len(doc_id) + 1

    def __len__(self) -> int:
        return len(self.doc_id)

    def texts(self) -> list[str]:
        """Rendered document text.  Every tenth token is capitalised and
        every seventh is followed by punctuation, so the engine's tokenizer
        (lowercase, split on ``[^a-z0-9]+``) has real work to do; neither
        changes the token sequence."""
        out = []
        for d in range(len(self)):
            ids = self.tokens[self.offsets[d] : self.offsets[d + 1]]
            words = []
            for j, t in enumerate(ids.tolist()):
                w = WORDS[t]
                if j % 10 == 3:
                    w = w.capitalize()
                if j % 7 == 6:
                    w += ","
                words.append(w)
            out.append(" ".join(words))
        return out

    def write_parquet(self, path: str) -> int:
        """Write ``doc_id, title, text, lang`` to *path*; returns the
        number of text bytes (UTF-8) written -- the input size that
        ``space_amp`` divides by."""
        texts = self.texts()
        table = pa.table(
            {
                "doc_id": pa.array(self.doc_id, pa.int64()),
                "title": pa.array([f"doc {i}" for i in self.doc_id.tolist()]),
                "text": pa.array(texts),
                "lang": pa.array(self.lang.tolist()),
            }
        )
        pq.write_table(table, path)
        return sum(len(t.encode()) for t in texts)


def corpus(rng: np.random.Generator, n_docs: int, first_id: int, mean_len: float) -> Docs:
    lens = np.maximum(1, rng.lognormal(np.log(mean_len), 0.6, n_docs).astype(np.int64))
    tokens = np.searchsorted(_CDF, rng.random(int(lens.sum())))
    offsets = np.concatenate([[0], np.cumsum(lens)])
    lang = LANGS[rng.choice(len(LANGS), size=n_docs, p=LANG_P)]
    ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    return Docs(ids, lang, tokens.astype(np.int64), offsets.astype(np.int64))


@dataclass(frozen=True)
class Query:
    text: str
    lang: str | None  # facet restriction (``allowed=``), or None


def query_stream(rng: np.random.Generator, n: int) -> list[Query]:
    """*n* queries of 1-4 distinct terms.  The shape of query *i* is fixed
    (``1 + i % 4`` terms, alternating head and tail terms, a ``lang``
    facet on every fifth query), so streams from different seeds cost
    alike; the seed picks the terms and the facet.  Head terms are the
    200 most frequent ranks (long postings lists), tail terms ranks
    200-4999 (short postings, some absent from a small corpus)."""
    out = []
    for i in range(n):
        terms: list[str] = []
        while len(terms) < 1 + i % 4:
            if (i + len(terms)) % 2 == 0:
                t = WORDS[int(rng.integers(0, HEAD_TERMS))]
            else:
                t = WORDS[int(rng.integers(HEAD_TERMS, 5_000))]
            if t not in terms:
                terms.append(t)
        lang = str(LANGS[int(rng.integers(0, len(LANGS)))]) if i % 5 == 4 else None
        out.append(Query(" ".join(terms), lang))
    return out


# --- analytics tables --------------------------------------------------------

_DOC_WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark a the "
    "line sort window data column join small order customer query stream "
    "group filter big vector"
).split()


def _ts(days_from: dt.date, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from.isoformat(), "us")
    return pa.array(base + (seconds * 1_000_000).astype("timedelta64[us]"), pa.timestamp("us"))


def _dates(rng: np.random.Generator, n: int, lo: dt.date, hi: dt.date) -> pa.Array:
    span = (hi - lo).days
    days = rng.integers(0, span + 1, n)
    return _ts(lo, days.astype(np.int64) * 86_400)


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(rng: np.random.Generator, out_dir: str, sf: float) -> None:
    """The registry's ten input tables at scale factor *sf* (lineitem has
    ``6e6 * sf`` rows), one parquet file each under *out_dir*."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    # as in the reference test data: 500 each up to sf 0.01, 5000 / 2000 at sf 0.1
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")

    put(
        "region",
        {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
    )
    put(
        "nation",
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        },
    )
    put(
        "customer",
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ).tolist(),
        },
    )
    put(
        "supplier",
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        },
    )
    adj = ["small", "red", "blue", "large", "green", "shiny"]
    noun = ["ring", "widget", "bolt", "gear", "panel", "spring"]
    put(
        "part",
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{adj[a]} {noun[b]}"
                for a, b in zip(rng.integers(0, 6, n_part), rng.integers(0, 6, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(
                ["ECONOMY", "SMALL", "STANDARD", "PROMO", "LARGE", "MEDIUM"], n_part
            ).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        },
    )
    put(
        "orders",
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _dates(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ).tolist(),
        },
    )
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    put(
        "lineitem",
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
            "l_shipdate": _dates(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        },
    )
    # events: strictly increasing microsecond timestamps over 30 days
    gaps = rng.exponential(30 * 86_400 / n_ev, n_ev)
    secs = np.cumsum(gaps)
    put(
        "events",
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(dt.date(2024, 1, 1), np.floor(secs * 1e6) / 1e6),
            "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
            "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_ev).tolist(),
            "value": _money(rng, n_ev, 0.01, 490.0),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        },
    )
    texts = [
        " ".join(rng.choice(_DOC_WORDS, int(n)).tolist())
        for n in rng.integers(8, 90, n_doc)
    ]
    put(
        "documents",
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": LANGS[rng.choice(len(LANGS), size=n_doc, p=LANG_P)].tolist(),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
    )
    emb = rng.normal(0.0, 0.12, (n_emb, 64)).astype(np.float32)
    put(
        "embeddings",
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        },
    )
