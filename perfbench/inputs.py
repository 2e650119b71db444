"""Seeded generators for the benchmark's input tables.

Each generator writes one parquet file with the columns and types of the
engine's test table of that name (TESTDATA.md) and draws its values to fit
the shape profile in ``shape.json``, which ``shape_profile.py`` measured on
the sf0.1 test tables (``shape_profile.py DIR --compare`` prints both side
by side).  The caller picks the row count.  The same seed gives the same
inputs.
"""

from __future__ import annotations

import functools
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SHAPE_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "shape.json")
HOUR_US = 3_600_000_000
DUP_TOKEN = "dup"  # the word a near-duplicate document appends to an earlier one


@functools.cache
def shape(table: str) -> dict:
    """The profile's figures for ``table``."""
    with open(SHAPE_PATH) as f:
        return json.load(f)[table]


def t0() -> np.datetime64:
    """Midnight of the profile's first event."""
    return np.datetime64(shape("events")["start"].replace(" ", "T"), "us")


def _write(df: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), path)


def _draw(rng: np.random.Generator, shares: dict, n: int) -> np.ndarray:
    return np.asarray(list(shares))[rng.choice(len(shares), n, p=np.asarray(list(shares.values())) / sum(shares.values()))]


def events(rng: np.random.Generator, n: int, path: str) -> pd.DataFrame:
    """``n`` events at the profile's arrival rate from its start, uniform in
    time and numbered in arrival order; users uniform, the profile's
    event-type mix, exponential ``value`` with the profile's mean."""
    ev = shape("events")
    hours = n / ev["rows_per_hour"]
    ts = t0() + np.sort(rng.integers(0, int(hours * HOUR_US), n)).astype("timedelta64[us]")
    df = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, ev["users"], n).astype(np.int64),
            "event_type": _draw(rng, ev["event_type"], n),
            "value": np.round(rng.exponential(ev["value_mean"], n), ev["value_decimals"]),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, ev["props_keys"], n)],
        }
    )
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    _write(df, path, schema)
    return df


def documents(rng: np.random.Generator, n: int, path: str) -> None:
    """``n`` documents of uniformly many words from the profile's
    vocabulary; the profile's share of them repeat an earlier document with
    one word appended, which the near-duplicate stages must find."""
    doc = shape("documents")
    vocab = np.asarray(doc["vocab"])
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < doc["dup_share"]:
            texts.append(texts[int(rng.integers(0, i))] + " " + DUP_TOKEN)
        else:
            k = int(rng.integers(doc["words_min"], doc["words_max"] + 1))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    df = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": _draw(rng, doc["lang"], n),
            "source": [f"src{i % doc['sources']}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    )
    _write(df, path, schema)


def embeddings(rng: np.random.Generator, n: int, path: str) -> None:
    """``n`` isotropic unit-norm float32 vectors of the profile's dimension,
    labels uniform over its label count."""
    emb = shape("embeddings")
    v = rng.standard_normal((n, emb["dim"]))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    df = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": list(v.astype(np.float32)),
            "label": rng.integers(0, emb["labels"], n).astype(np.int32),
        }
    )
    schema = pa.schema(
        [
            ("vec_id", pa.int64()),
            ("embedding", pa.list_(pa.float32())),
            ("label", pa.int32()),
        ]
    )
    _write(df, path, schema)


def lineitem(rng: np.random.Generator, n: int, path: str) -> None:
    """A lineitem-shaped table for the machine sentinel's scan."""
    qty = rng.integers(1, 51, n).astype(np.float64)
    df = pd.DataFrame(
        {
            "l_orderkey": np.sort(rng.integers(0, n // 4, n)).astype(np.int64),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.asarray(list("ANR"))[rng.integers(0, 3, n)],
            "l_linestatus": np.asarray(list("OF"))[rng.integers(0, 2, n)],
        }
    )
    schema = pa.schema(
        [
            ("l_orderkey", pa.int64()),
            ("l_quantity", pa.float64()),
            ("l_extendedprice", pa.float64()),
            ("l_discount", pa.float64()),
            ("l_tax", pa.float64()),
            ("l_returnflag", pa.string()),
            ("l_linestatus", pa.string()),
        ]
    )
    _write(df, path, schema)
