"""Seeded batch corpus for batch_analytics, drawn from measured shapes.

Every parameter comes from ``corpus_shape.json``: the value shapes of the
repo's sf0.1 test corpus as ``shape.py`` measured them (the tables the
benchmarked entries read). At ``scale`` s a table has s times the
measured rows, and every key space the entries group or join on (users,
the events time span, orders, parts, suppliers) is scaled by s too, so
rows per key, the density a group-by, a self-join or the co-purchase
graph sees, stay as measured. Categorical and numeric columns keep their
measured frequencies and quantiles.

- ``events``: ids 0..n-1, timestamps sorted uniform over the span (as
  measured: they increase with the id), users uniform, event types and
  ``value`` (inverse CDF of the measured quantiles) as measured;
- ``documents``: token counts uniform over the measured range, tokens
  drawn with the measured vocabulary frequencies, the measured share of
  near-duplicates (another document plus a trailing ``dup`` token);
- ``lineitem``: order, part and supplier keys uniform over their key
  spaces (as measured: rows per key are Poisson), the other columns with
  their measured frequencies or quantiles.

Every table is one parquet file, like the repo's test corpora.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("events", "documents", "lineitem")
T0_US = 1_704_067_200_000_000  # 2024-01-01, the sf0.1 events start
with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "corpus_shape.json")) as _f:
    SHAPE = json.load(_f)


def _categorical(rng, freq: dict[str, float], n: int) -> np.ndarray:
    keys = list(freq)
    p = np.array([freq[k] for k in keys])
    return np.array(keys)[rng.choice(len(keys), size=n, p=p / p.sum())]


def _from_quantiles(rng, q: list[float], n: int) -> np.ndarray:
    """Inverse-CDF draw, linear between the measured percentiles, rounded
    to cents like the measured columns."""
    return np.round(np.interp(rng.random(n), np.linspace(0, 1, len(q)), q), 2)


def _keys(rng, key: dict, scale: float, n: int) -> np.ndarray:
    space = max(1, round((key["max"] - key["min"] + 1) * scale))
    return key["min"] + rng.integers(0, space, size=n)


def _events(rng, scale: float) -> pa.Table:
    s = SHAPE["events"]
    n = round(s["rows"] * scale)
    ts = T0_US + np.sort(rng.integers(0, int(s["ts_span_s"] * scale * 1e6), size=n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": _keys(rng, s["user_id"], scale, n),
        "event_type": _categorical(rng, s["event_type"], n),
        "value": _from_quantiles(rng, s["value_quantiles"], n),
        "props": [f'{{"k": {k}}}' for k in _keys(rng, s["props_k"], 1.0, n)],
    })


def _documents(rng, scale: float) -> pa.Table:
    s = SHAPE["documents"]
    n = round(s["rows"] * scale)
    vocab = list(s["vocab"])
    p = np.array([s["vocab"][w] for w in vocab])
    dup = rng.random(n) < s["near_dup_share"]
    texts = [
        " ".join(vocab[j] for j in rng.choice(len(vocab), size=int(k), p=p / p.sum()))
        for k in rng.integers(s["tokens_min"], s["tokens_max"] + 1, size=n)
    ]
    base = np.flatnonzero(~dup)
    for i in np.flatnonzero(dup):  # a near-duplicate of any other document
        texts[i] = texts[int(base[rng.integers(0, len(base))])] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _categorical(rng, s["lang"], n),
        "source": [f"src{i % s['sources']}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _lineitem(rng, scale: float) -> pa.Table:
    s = SHAPE["lineitem"]
    n = round(s["rows"] * scale)
    lo, hi, _ = s["l_shipdate_days"]
    return pa.table({
        "l_orderkey": _keys(rng, s["l_orderkey"], scale, n),
        "l_partkey": _keys(rng, s["l_partkey"], scale, n),
        "l_suppkey": _keys(rng, s["l_suppkey"], scale, n),
        "l_linenumber": _categorical(rng, s["l_linenumber"], n).astype(np.int32),
        "l_quantity": _categorical(rng, s["l_quantity"], n).astype(np.float64),
        "l_extendedprice": _from_quantiles(rng, s["l_extendedprice_quantiles"], n),
        "l_discount": _categorical(rng, s["l_discount"], n).astype(np.int64) / 100.0,
        "l_tax": _categorical(rng, s["l_tax"], n).astype(np.int64) / 100.0,
        "l_returnflag": _categorical(rng, s["l_returnflag"], n),
        "l_linestatus": _categorical(rng, s["l_linestatus"], n),
        "l_shipdate": pa.array(
            rng.integers(int(lo), int(hi) + 1, size=n) * 86_400_000_000, pa.timestamp("us")
        ),
    })


def make_corpus(out: str, seed: int, scale: float) -> dict[str, int]:
    """Write the tables under ``out`` at ``scale`` of the measured sizes;
    returns rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    tables = {"events": _events(rng, scale), "documents": _documents(rng, scale),
              "lineitem": _lineitem(rng, scale)}
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
