"""Seeded inputs for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same seed
gives byte-identical files. Outputs are cached under the checkout's
``perfbench/_cache/`` (ignored by git) so a repeated seed skips
generation; generation is never inside a timed region.

* :func:`ts_upload` writes the F1 upload (FIXTURES.md): a CSV with a
  process column and a value column, series stored contiguously in time
  order, ragged lengths spread evenly over [80, 200], a few empty (NULL)
  values and at least two series of the maximum length. The engine
  ingests it through ``TimeSeriesPipeline.load_csv``.
* :func:`llm_tables` writes the three parquet tables the ``llm_batch``
  registry queries read (``events``, ``documents``, ``embeddings``),
  with the schema of the sf0.01 test tables and the shape statistics
  measured on them (row counts, events per user, document lengths,
  vocabulary, near-duplicate rate, vector clustering; see
  perfbench/README.md), so the registry's DuckDB oracles apply
  unchanged.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import numpy as np

# keyed by this file's content, so a changed generator never reuses
# inputs an older one wrote
CACHE = (Path(__file__).resolve().parent / "_cache"
         / f"inputs-{hashlib.sha1(Path(__file__).read_bytes()).hexdigest()[:10]}")

MIN_LEN, MAX_LEN = 80, 200
NULL_RATE = 0.002


def ts_upload(seed: int, n_series: int) -> tuple[str, dict[str, int]]:
    """Write (or reuse) the upload CSV; returns its path and, per series,
    the number of non-NULL points (the rows ``load_csv`` keeps)."""
    CACHE.mkdir(parents=True, exist_ok=True)
    csv_path = CACHE / f"ts_{seed}_{n_series}.csv"
    meta_path = CACHE / f"ts_{seed}_{n_series}.json"
    if csv_path.exists() and meta_path.exists():
        return str(csv_path), json.loads(meta_path.read_text())

    rng = np.random.default_rng([seed, n_series, 1])
    # evenly spread lengths in a seeded order: every seed has the same
    # total size. DTW's identity branch needs >= 2 max-length series.
    lengths = rng.permutation(np.linspace(MIN_LEN, MAX_LEN, n_series).round().astype(int))
    lengths[rng.choice(n_series, size=2, replace=False)] = MAX_LEN
    kept: dict[str, int] = {}
    lines = ["process,value"]
    for i, n in enumerate(lengths):
        sid = f"s{i:06d}"
        t = np.arange(n)
        shape = i % 4
        if shape == 0:
            base = np.sin(2 * np.pi * t / rng.uniform(20, 60) + rng.uniform(0, 6.3))
        elif shape == 1:
            base = np.where(t >= rng.integers(10, n - 10), 1.0, -1.0)
        elif shape == 2:
            base = rng.uniform(-0.03, 0.03) * t
        else:
            base = np.sin(2 * np.pi * t / rng.uniform(8, 16)) + 0.01 * t
        vals = rng.uniform(0.5, 3.0) * base + rng.uniform(-5, 5) + rng.normal(0, 0.2, n)
        null = rng.random(n) < NULL_RATE
        kept[sid] = int(n - null.sum())
        lines.extend(
            f"{sid}," if is_null else f"{sid},{v:.6f}" for v, is_null in zip(vals, null)
        )
    # write-then-rename, so an interrupted run leaves no partial input
    tmp = csv_path.with_name(csv_path.name + ".tmp")
    tmp.write_text("\n".join(lines) + "\n")
    tmp.replace(csv_path)
    tmp = meta_path.with_name(meta_path.name + ".tmp")
    tmp.write_text(json.dumps(kept))
    tmp.replace(meta_path)
    return str(csv_path), kept


VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
LANGS = ("en", "en", "en", "zh", "de", "fr", "es")


def llm_tables(seed: int, n_events: int = 10_000, n_docs: int = 500, n_vecs: int = 500) -> str:
    """Write (or reuse) ``events``/``documents``/``embeddings`` parquet
    tables; returns the directory (the registry's ``sf_dir``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = CACHE / f"tables_{seed}_{n_events}_{n_docs}_{n_vecs}"
    if (out / "_DONE").exists():
        return str(out)
    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([seed, 2])

    # events: 30 days of timestamped activity, 66.7 events per user
    n_users = max(2, n_events * 3 // 200)
    start_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, size=n_events)) + start_us
    events = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, size=n_events), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, size=n_events)),
        "value": pa.array(np.round(rng.exponential(50.0, size=n_events) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_events)]),
    })

    # documents: random-vocabulary text of evenly spread lengths; every
    # 20th is a near-duplicate of an earlier document (a word or two
    # changed, tagged "dup") so the dedup operators have pairs to find
    doc_words = rng.permutation(np.linspace(10, 99, n_docs).round().astype(int))
    texts: list[str] = []
    for i in range(n_docs):
        if i % 20 == 19:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
            words.append("dup")
        else:
            words = list(rng.choice(VOCAB, size=int(doc_words[i])))
        texts.append(" ".join(words))
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[int(j)] for j in rng.integers(0, len(LANGS), size=n_docs)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    # embeddings: random unit vectors in 64-d and a 10-way label drawn
    # independently; the measured tables show no label clustering
    labels = rng.integers(0, 10, size=n_vecs)
    vecs = rng.normal(size=(n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

    for name, table in (("events", events), ("documents", documents), ("embeddings", embeddings)):
        tmp = out / f"{name}.parquet.tmp"
        pq.write_table(table, tmp)
        tmp.replace(out / f"{name}.parquet")
    (out / "_DONE").write_text("")
    return str(out)
