"""Seeded benchmark inputs, materialised as parquet inside the work directory.

Two input kinds:

* the transcript table (``conv_id, turn_idx, role, text, tool, ts``) from
  ``ragstudio_spark.sources.transcripts``, one parquet file per core;
* the battery tables ``documents``, ``embeddings`` and ``events`` in the
  schema ``entry_queries`` reads: word-salad documents over a 30-word
  vocabulary with ~5% shifted near-duplicates and one fixed near-duplicate
  chain, unit-norm 64-d embeddings and a 30-day event stream. The
  distribution is this benchmark's own; ``perfbench/README.md`` compares
  its leaf outputs with the repository's testdata.

Both are written with pyarrow, so the program under test only sees files.

Everything is a pure function of the seed.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ("en", "fr", "de", "es", "zh")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


TRANSCRIPT_ARROW = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")),
])


def transcripts_frame(n_turns: int, seed: int):
    """The seeded transcript table from the package's own generator
    (``sources.transcripts``), as a pandas frame."""
    from ragstudio_spark.sources import transcripts as tsrc

    return tsrc.generate_pandas(n_turns, seed=seed)


def write_turns(frame, path: str, partitions: int) -> str:
    """Write transcript rows as ``partitions`` contiguous parquet files —
    one file per core, the layout ``bench.py`` measured as one balanced
    task wave."""
    fresh_dir(path)
    os.makedirs(path)
    table = pa.Table.from_pandas(frame, schema=TRANSCRIPT_ARROW, preserve_index=False)
    step = -(-len(frame) // partitions)
    for i in range(partitions):
        pq.write_table(table.slice(i * step, step), f"{path}/part-{i:05d}.parquet")
    return path


CHAINS, CHAIN_LEN, CHAIN_WORDS = 6, 5, 20


def documents_table(n_docs: int, seed: int) -> pa.Table:
    """Documents. The first ``CHAINS * CHAIN_LEN`` are chains: each
    document a ``CHAIN_WORDS``-word window, one word further along a random
    word sequence than the one before, so neighbours are near-duplicates and
    the chain's ends are not. At least one such chain puts a document two
    or more pair hops from its cluster's minimum id, so
    ``dedupe.duplicate_clusters`` runs two label-propagation rounds on
    every seed; without the chains the count was one or two by seed."""
    rng = np.random.default_rng([seed, 1])
    texts: list[str] = []
    for _ in range(CHAINS):
        seq = rng.choice(_VOCAB, size=CHAIN_WORDS + CHAIN_LEN - 1)
        texts.extend(" ".join(seq[k:k + CHAIN_WORDS]) for k in range(CHAIN_LEN))
    for i in range(len(texts), n_docs):
        if i >= 40 and rng.random() < 0.05:
            # near-duplicate of an earlier document: drop the first word
            # and append a marker word (the shape the dedup leaves target)
            words = texts[int(rng.integers(0, i))].split()
            texts.append(" ".join(words[1:] + ["dup"]))
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(_VOCAB, size=n)))
    langs = rng.choice(_LANGS, size=n_docs, p=_LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(n_vecs: int, seed: int, dim: int = 64) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    m = rng.standard_normal((n_vecs, dim)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
    })


def events_table(n_events: int, n_users: int, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 3])
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_events))
    base = np.datetime64("2024-01-01T00:00:00", "us")
    return pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(base + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events).astype(np.int64)),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_events).tolist(),
                               pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
                          pa.string()),
    })


def write_battery_tables(path: str, seed: int, n_docs: int, n_vecs: int,
                         n_events: int) -> str:
    """The battery's input directory: one ``<table>.parquet`` file each,
    the layout ``entry_queries`` reads."""
    fresh_dir(path)
    os.makedirs(path)
    pq.write_table(documents_table(n_docs, seed), f"{path}/documents.parquet")
    pq.write_table(embeddings_table(n_vecs, seed), f"{path}/embeddings.parquet")
    pq.write_table(events_table(n_events, max(50, n_events // 60), seed),
                   f"{path}/events.parquet")
    return path
