"""Seeded input generators for the benchmark.

Everything here is pure Python/numpy/pyarrow: the same ``seed`` gives
byte-identical inputs, and no Spark session is needed to build them.

- ``write_lineitem``: a lineitem-shaped parquet, the input of the host
  ruler's Spark sentinels (``probes.py``).
- ``EtlDays``: provider-shaped daily payloads for two sources with
  overlapping symbols; a share of each day's rows restates earlier days.
- ``write_documents`` / ``write_embeddings``: corpus parquets with the
  statistics of the repository's sf0.1 test corpus (below).
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.date(1995, 1, 2)


def write_lineitem(path: str, seed: int, n_rows: int) -> None:
    """The lineitem columns the host ruler's sentinels read."""
    rng = np.random.default_rng([seed, 1])
    table = pa.table(
        {
            "l_orderkey": pa.array(np.arange(n_rows, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(1, 200_000, n_rows).astype(np.int64)),
            "l_quantity": pa.array(rng.integers(1, 51, n_rows).astype(np.float64)),
            "l_extendedprice": pa.array(rng.integers(90_000, 10_000_000, n_rows) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_rows)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_rows)),
        }
    )
    pq.write_table(table, path)


class EtlDays:
    """Provider payloads for trading day ``i`` (0-based), deterministic in
    (seed, i). Alpha Vantage covers the first ``PER_PROVIDER`` symbols and
    Yahoo Finance the last, so the middle of the list overlaps. Each
    provider restates ``RESTATE`` of its symbols on one of the previous
    ``LOOKBACK`` days, with new prices (a correction)."""

    N_SYMBOLS = 48
    PER_PROVIDER = 36
    RESTATE = 4
    LOOKBACK = 20

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.symbols = [f"TK{i:03d}" for i in range(self.N_SYMBOLS)]
        self.alpha = self.symbols[:self.PER_PROVIDER]
        self.yahoo = self.symbols[-self.PER_PROVIDER:]

    @staticmethod
    def date(i: int) -> dt.date:
        return EPOCH + dt.timedelta(days=i)

    def _quote(self, rng) -> tuple[float, float, float, float, int]:
        # whole cents; low <= open, close <= high; volatility stays < 20 %
        o = int(rng.integers(1_000, 50_000))
        c = o + int(rng.integers(-o // 40, o // 40 + 1))
        hi = max(o, c) + int(rng.integers(0, o // 50 + 1))
        lo = min(o, c) - int(rng.integers(0, o // 50 + 1))
        vol = int(rng.integers(1_000, 5_000_000))
        return o / 100, hi / 100, lo / 100, c / 100, vol

    def rows(self, i: int, source: str) -> list[tuple]:
        """[(date, symbol, open, high, low, close, volume)] for the day's
        payload of ``source`` — one row per (date, symbol)."""
        rng = np.random.default_rng([self.seed, 2, i, source == "yahoo"])
        syms = self.alpha if source == "alpha" else self.yahoo
        out = [(self.date(i), s, *self._quote(rng)) for s in syms]
        if i > 0:
            for s in rng.choice(syms, size=self.RESTATE, replace=False):
                back = int(rng.integers(1, min(i, self.LOOKBACK) + 1))
                out.append((self.date(i - back), str(s), *self._quote(rng)))
        # one row per (date, symbol): a restatement never collides with a
        # same-day quote because back >= 1
        return out

    def fetch_alpha(self, i: int):
        """``fetch_daily(symbol)`` in the Alpha Vantage shape."""
        by_sym: dict[str, dict] = {}
        for d, s, o, h, lo, c, v in self.rows(i, "alpha"):
            by_sym.setdefault(s, {})[d.isoformat()] = {
                "1. open": str(o), "2. high": str(h), "3. low": str(lo),
                "4. close": str(c), "5. volume": str(v),
            }
        return lambda symbol: by_sym.get(symbol, {})

    def fetch_yahoo(self, i: int):
        """``fetch_history(symbol)`` in the Yahoo Finance shape."""
        by_sym: dict[str, list] = {}
        for d, s, o, h, lo, c, v in self.rows(i, "yahoo"):
            by_sym.setdefault(s, []).append(
                {"Date": d.isoformat(), "Open": o, "High": h, "Low": lo,
                 "Close": c, "Volume": v, "Dividends": 0.0, "Stock Splits": 0.0}
            )
        return lambda symbol: by_sym.get(symbol, [])


# Corpus statistics of the repository's sf0.1 test corpus (5000 documents,
# 2000 embeddings), measured from its parquet files: 30 words drawn
# uniformly, 10-99 words per document; 5 % of documents end in " dup": near
# copies of another document (its text plus " dup"), 8 of them (0.16 % of
# the corpus) exact copies of a near copy; the language mix below; 20 sources round-robin. Embeddings
# are unit-norm 64-d directions with 10 labels and no planted near copies.
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.412, 0.151, 0.149, 0.148, 0.140]
NEAR_SHARE = 0.05
N_EXACT = 8


def write_documents(path: str, seed: int, n_docs: int) -> None:
    """documents.parquet with the sf0.1 corpus statistics above."""
    rng = np.random.default_rng([seed, 3])
    texts = [" ".join(rng.choice(_WORDS, int(rng.integers(10, 100))))
             for _ in range(n_docs)]
    picked = rng.choice(n_docs, int(n_docs * NEAR_SHARE), replace=False)
    near, exact = picked[:-N_EXACT], picked[-N_EXACT:]
    originals = rng.choice(np.setdiff1d(np.arange(n_docs), picked), len(near),
                           replace=False)
    for i, j in zip(near, originals):
        texts[i] = texts[int(j)] + " dup"
    for i in exact:
        texts[i] = texts[int(rng.choice(near))]
    docs = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(_LANGS, n_docs, p=_LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    pq.write_table(docs, path)


def write_embeddings(path: str, seed: int, n_vecs: int) -> None:
    """embeddings.parquet: unit-norm 64-d float32 Gaussian directions with
    10 labels."""
    rng = np.random.default_rng([seed, 4])
    x = rng.standard_normal((n_vecs, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
        }
    )
    pq.write_table(emb, path)
