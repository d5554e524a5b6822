"""Seeded input generators for the benchmark.

Everything the program under test receives is made here from ``--seed``:
the same seed gives byte-identical inputs.

Documents join 1-4 source texts (a sample of the sf0.1 ``documents``
table, bundled in ``data/source_texts.jsonl.gz``) picked by the RNG, plus a
tail of synthetic terms ``z<rank>`` with Zipf-distributed ranks. The
source texts use a 31-word vocabulary in which every word has about the
same document frequency, so every mid- and low-frequency query term comes
from the synthetic tail. Its shape (Zipf exponent ``ZIPF_A``, at most
``ZIPF_MAX`` ranks, Poisson(4) tail terms per document) is assumed, not
measured: no frequency data for mid or tail terms of a real corpus backs
it, and all its terms share the ``z`` prefix. Documents differ in length
and term frequency and are never exact copies.

Events follow the marginals of the sf0.1 ``events`` table (five uniform
event types, ~66 events per user, exponential values, ``{"k": n}`` props,
a 30-day time range), plus a few rare event types so the terms and
sudden-appearance analyzers have something to find.
"""

from __future__ import annotations

import base64
import collections
import datetime as dt
import gzip
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ee_outliers_spark.tokenizer import tokenize_py

HERE = os.path.dirname(os.path.abspath(__file__))
ZIPF_A = 1.25  # assumed tail shape; see the module docstring
ZIPF_MAX = 50_000
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
RARE_EVENT_TYPES = ["admin_login", "priv_escalation", "token_reset"]
EVENTS_T0 = dt.datetime(2024, 1, 1)
EVENTS_DAYS = 30
LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _pool() -> list[dict]:
    with gzip.open(os.path.join(HERE, "data", "source_texts.jsonl.gz"), "rt") as fh:
        return [json.loads(line) for line in fh]


def documents(seed: int, n: int, id_base: int = 0,
              marker: str | None = None) -> pd.DataFrame:
    """``n`` documents (doc_id, text, lang, source) with ids from
    ``id_base``. ``marker`` is appended to every text as one extra token
    (append batches use it for the freshness count)."""
    rng = np.random.default_rng([seed, id_base, 1])
    pool = _pool()
    texts, langs, sources = [], [], []
    n_src = rng.integers(1, 5, n)
    n_tail = rng.poisson(4.0, n)
    for i in range(n):
        picks = rng.integers(0, len(pool), n_src[i])
        ranks = np.minimum(rng.zipf(ZIPF_A, n_tail[i]), ZIPF_MAX)
        parts = [pool[p]["text"] for p in picks]
        parts += [f"z{r}" for r in ranks]
        if rng.random() < 0.03:  # an encoded payload for the base64 metric
            payload = "".join(LETTERS[rng.integers(0, 26, int(rng.integers(8, 40)))])
            parts.append(base64.b64encode(payload.encode()).decode())
        if marker:
            parts.append(marker)
        texts.append(" ".join(parts))
        langs.append(pool[picks[0]]["lang"])
        sources.append(pool[picks[0]]["source"])
    return pd.DataFrame({
        "doc_id": np.arange(id_base, id_base + n, dtype=np.int64),
        "text": texts, "lang": langs, "source": sources,
    })


def events(seed: int, n: int) -> pd.DataFrame:
    """``n`` events (event_id, ts, user_id, event_type, value, props)."""
    rng = np.random.default_rng([seed, 2])
    users = max(1, n // 66)
    secs = np.sort(rng.uniform(0, EVENTS_DAYS * 86400, n))
    # microsecond timestamps; the sort above keeps (user, type, ts) tie-free
    # in practice, which the sudden-appearance contract assumes
    ts = pd.to_datetime(EVENTS_T0) + pd.to_timedelta(
        np.round(secs * 1e6).astype(np.int64), unit="us")
    etype = np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)]
    rare = rng.random(n) < 0.001
    etype[rare] = np.array(RARE_EVENT_TYPES, dtype=object)[
        rng.integers(0, len(RARE_EVENT_TYPES), int(rare.sum()))]
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": etype,
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def write_parquet(pdf: pd.DataFrame, path: str, row_groups: int = 8) -> str:
    """Write with several row groups, so the scan splits like a real
    multi-file table instead of one task."""
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    # Spark reads microsecond timestamps only
    pq.write_table(table, path, coerce_timestamps="us",
                   row_group_size=max(1, -(-len(pdf) // row_groups)))
    return path


def doc_freqs(texts) -> collections.Counter:
    """Document frequency of every token, by the engine's tokenizer."""
    df: collections.Counter = collections.Counter()
    for t in texts:
        df.update(set(tokenize_py(t)))
    return df


def df_bands(df: collections.Counter, n_docs: int) -> dict[str, list[str]]:
    """Query-term bands by document frequency: head (≥20% of docs), mid
    (0.5-5%) and tail (5 docs to 0.1%). Sorted, so the draw depends only
    on the seed."""
    head = sorted(t for t, c in df.items() if c >= 0.2 * n_docs)
    mid = sorted(t for t, c in df.items()
                 if 0.005 * n_docs <= c <= 0.05 * n_docs)
    tail = sorted(t for t, c in df.items()
                  if 5 <= c <= max(5, 0.001 * n_docs))
    return {"head": head, "mid": mid, "tail": tail}
