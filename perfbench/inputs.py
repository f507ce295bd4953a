"""Seeded input generators. Every input the engine sees comes from here.

The corpus rows come from the package's own pure generator
(``corpus.generate_conversations``, a function of (seed, conversation
index)). This module adds the traffic around them: the Zipf-skewed query
pool and stream, fresh non-repeating queries, ingest batches carrying a
unique marker turn, and the conversations that a delete targets. The same
seed always gives the same inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from kafka_elasticsearch_standalone_consumer_spark import corpus

# Skew of the serve stream over the query pool. Xie and O'Hallaron,
# "Locality in Search Engine Queries and Its Implications for Caching"
# (IEEE INFOCOM 2002), fit query frequencies in the Vivisimo and Excite
# logs with a Zipf-like law of exponent about 0.8. Using it over a finite
# 500-query pool is this benchmark's assumption: with no one-off tail,
# ~69% of a ~1000-query run repeats an earlier query (top query ~8%).
QUERY_ZIPF_S = 0.8
HEAD_TERMS = 50  # vocabulary ranks that count as "head" (hot) terms
BAND = 1.25  # a query term is drawn from vocabulary ranks [lo, lo * BAND)


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _vocab() -> list[str]:
    return [f"w{i:05d}" for i in range(corpus.VOCAB_SIZE)]


def conversations(seed: int, first: int, n_convs: int) -> pd.DataFrame:
    """Turns of conversations ``first .. first+n_convs-1`` (distinct conv_ids)."""
    return corpus.generate_conversations(np.arange(first, first + n_convs), seed)


def mark_convs(df: pd.DataFrame, conv_ids: list[str], term: str) -> pd.DataFrame:
    """Append ``term`` to the text of every turn of ``conv_ids``: a delete
    target is then findable (and provably gone) by querying that term."""
    hit = df["conv_id"].isin(conv_ids)
    out = df.copy()
    out.loc[hit, "text"] = out.loc[hit, "text"] + " " + term
    return out


def mark_turn(df: pd.DataFrame, seed: int, stream: int, term: str) -> pd.DataFrame:
    """Append a unique marker ``term`` to one seeded turn of the batch."""
    i = int(_rng(seed, stream).integers(len(df)))
    out = df.copy()
    out.iloc[i, out.columns.get_loc("text")] = out.iloc[i]["text"] + " " + term
    return out


def write_parquet(df: pd.DataFrame, path: str) -> None:
    """One Parquet file in the ``transcripts`` shape (microsecond UTC ts)."""
    os.makedirs(path, exist_ok=True)
    tbl = pa.Table.from_pandas(df.assign(ts=df["ts"].dt.tz_localize("UTC")), preserve_index=False)
    pq.write_table(tbl, os.path.join(path, "part-0.parquet"), coerce_timestamps="us")


def text_bytes(df: pd.DataFrame) -> int:
    return int(sum(len(t.encode("utf-8")) for t in df["text"]))


def _queries(seed: int, stream: int, n: int, tag: str, avoid=frozenset()) -> list[str]:
    """``n`` distinct queries of 1–5 terms: head terms, body/tail terms,
    absent terms, and sometimes a duplicated term (the shapes of
    ``corpus.reference_queries``).

    Stratified so that latency does not hinge on the seed: the i-th
    query's shape (term count, and per term its class and vocabulary-rank
    band) is the same for every seed; the seed picks the term inside each
    band, where document frequencies differ by under ~30%."""
    shape_rng, term_rng = _rng(0, stream), _rng(seed, stream)
    vocab = _vocab()
    out: dict[str, None] = {}
    i = 0
    while len(out) < n:
        n_terms = int(shape_rng.integers(1, 6))
        terms = []
        for j in range(n_terms):
            r = shape_rng.random()
            if r < 0.9:  # head term (35%) or body/tail term (55%)
                lo = int(shape_rng.integers(0, HEAD_TERMS) if r < 0.35 else shape_rng.integers(HEAD_TERMS, len(vocab)))
                hi = min(len(vocab), max(lo + 1, int(lo * BAND)))
                terms.append(vocab[int(term_rng.integers(lo, hi))])
            else:  # absent from every corpus (10%)
                terms.append(f"zzabsent{tag}{i}x{j}")
        if n_terms > 1 and shape_rng.random() < 0.15:
            terms[-1] = terms[0]
        q = " ".join(terms)
        if q not in avoid:
            out.setdefault(q, None)
        i += 1
    return list(out)


def query_pool(seed: int, size: int) -> list[str]:
    """``size`` distinct queries, in the order the stream ranks them."""
    return _queries(seed, 1, size, "p")


def query_stream(seed: int, pool_size: int, n: int) -> np.ndarray:
    """Indices into the pool, Zipf-skewed: pool[0] is the most frequent."""
    w = 1.0 / np.arange(1, pool_size + 1, dtype=np.float64) ** QUERY_ZIPF_S
    return _rng(seed, 2).choice(pool_size, size=n, p=w / w.sum())


def fresh_queries(seed: int, n: int, avoid: set[str] = frozenset()) -> list[str]:
    """``n`` distinct queries, none in ``avoid``: no answer can be reused."""
    return _queries(seed, 3, n, "f", avoid)


def pick_convs(df: pd.DataFrame, seed: int, stream: int, n: int) -> list[str]:
    """``n`` seeded conv_ids of ``df`` (delete targets)."""
    ids = np.sort(df["conv_id"].unique())
    return sorted(_rng(seed, stream).choice(ids, size=n, replace=False).tolist())
