"""Shape profile of the engine's test tables (TESTDATA.md), which the
input generators follow.

    python3 perfbench/shape_profile.py DIR             # print the profile of DIR
    python3 perfbench/shape_profile.py DIR --write     # store it as perfbench/shape.json
    python3 perfbench/shape_profile.py DIR --compare --seed 1

``DIR`` holds ``events.parquet``, ``documents.parquet`` and
``embeddings.parquet`` (the sf0.1 test tables).  ``--compare``
generates the three tables from ``shape.json`` at DIR's full size and
prints each measured figure of DIR beside the same figure of the generated
tables, so a generator that drifts from the test tables shows.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import sys
import tempfile

import numpy as np
import pandas as pd

import inputs


def _shares(s: pd.Series) -> dict:
    return {str(k): round(float(v), 4) for k, v in s.value_counts(normalize=True).sort_index().items()}


def events(path: str) -> dict:
    ev = pd.read_parquet(path)
    span_h = (ev.ts.max() - ev.ts.min()) / pd.Timedelta("1h")
    per_user = ev.user_id.value_counts()
    hour = ev.ts.dt.hour.value_counts(normalize=True)
    return {
        "rows": len(ev),
        "span_hours": round(span_h, 2),
        "rows_per_hour": round(len(ev) / span_h, 2),
        "start": str(ev.ts.min().floor("D")),
        "ids_in_ts_order": bool(ev.ts.is_monotonic_increasing and ev.event_id.is_monotonic_increasing),
        "users": int(ev.user_id.nunique()),
        "user_id_max": int(ev.user_id.max()),
        "top_user_share": round(per_user.max() / len(ev), 5),
        "hour_of_day_share_max_over_min": round(hour.max() / hour.min(), 3),
        "event_type": _shares(ev.event_type),
        "value_mean": round(ev.value.mean(), 3),
        "value_std": round(ev.value.std(), 3),
        "value_median": round(ev.value.median(), 3),
        "value_decimals": int(max(len(f"{v:.10g}".partition(".")[2]) for v in ev.value.head(10_000))),
        "props_keys": int(ev.props.nunique()),
    }


def documents(path: str) -> dict:
    doc = pd.read_parquet(path)
    texts = set(doc.text)
    base, dup = [], 0
    for t in doc.text:
        head, _, last = t.rpartition(" ")
        if last == inputs.DUP_TOKEN and head in texts:
            dup += 1
        else:
            base.append(len(t.split()))
    vocab = collections.Counter(w for t in doc.text for w in t.split())
    vocab.pop(inputs.DUP_TOKEN, None)
    return {
        "rows": len(doc),
        "words_min": min(base),
        "words_max": max(base),
        "words_mean": round(float(np.mean(base)), 2),
        "vocab": sorted(vocab),
        "dup_share": round(dup / len(doc), 4),
        "lang": _shares(doc.lang),
        "sources": int(doc.source.nunique()),
        "sources_round_robin": bool((doc.source == [f"src{i % doc.source.nunique()}" for i in range(len(doc))]).all()),
        "n_chars_is_len": bool((doc.n_chars == doc.text.str.len()).all()),
    }


def embeddings(path: str) -> dict:
    e = pd.read_parquet(path)
    v = np.stack(e.embedding.to_numpy())
    norm = np.linalg.norm(v, axis=1)
    sample = v[:1000]
    cos = sample @ sample.T
    np.fill_diagonal(cos, -1.0)
    return {
        "rows": len(e),
        "dim": int(v.shape[1]),
        "norm_min": round(float(norm.min()), 5),
        "norm_max": round(float(norm.max()), 5),
        "dim_std_mean": round(float(v.std(axis=0).mean()), 4),
        "labels": int(e.label.nunique()),
        "label_share_max": round(float(e.label.value_counts(normalize=True).max()), 4),
        "nn_cosine_median_of_1000": round(float(np.median(cos.max(axis=1))), 4),
    }


def profile(d: str) -> dict:
    return {
        "events": events(f"{d}/events.parquet"),
        "documents": documents(f"{d}/documents.parquet"),
        "embeddings": embeddings(f"{d}/embeddings.parquet"),
    }


def compare(d: str, seed: int) -> None:
    real = profile(d)
    rng = np.random.default_rng(seed)
    with tempfile.TemporaryDirectory() as tmp:
        inputs.events(rng, real["events"]["rows"], f"{tmp}/events.parquet")
        inputs.documents(rng, real["documents"]["rows"], f"{tmp}/documents.parquet")
        inputs.embeddings(rng, real["embeddings"]["rows"], f"{tmp}/embeddings.parquet")
        gen = profile(tmp)
    for table, figures in real.items():
        for k, v in figures.items():
            g = gen[table][k]
            if k == "vocab":
                v, g = len(v), ("same" if g == v else f"differs: {g}")
            print(f"{table:10s} {k:32s} {json.dumps(v):>40s}  {json.dumps(g)}")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("dir")
    p.add_argument("--write", action="store_true")
    p.add_argument("--compare", action="store_true")
    p.add_argument("--seed", type=int, default=1)
    args = p.parse_args(argv)
    if args.compare:
        compare(args.dir, args.seed)
        return 0
    shape = {"source": os.path.basename(os.path.normpath(args.dir)), **profile(args.dir)}
    text = json.dumps(shape, indent=1)
    if args.write:
        with open(inputs.SHAPE_PATH, "w") as f:
            f.write(text + "\n")
    print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
