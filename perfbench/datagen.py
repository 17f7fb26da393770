"""Deterministic input tables for the batch workload.

The batch queries read ``<sf_dir>/<table>.parquet`` through
``logflow.sources.tables.load_table``.  This module writes the two tables
the ``trace_batch`` mix reads (``events`` and ``documents``) with the same
schema and value domains as the TPC-H-ish test data described in
FIXTURES.md, at sf0.01 size (10k events over 150 users, 500 documents).

The tables depend only on ``DATA_SEED`` and the row counts, never on the
benchmark's ``--seed``: the seed orders the query mix, so every run of a
checkout measures the same input.  Files are written once per checkout,
under a directory named after the generator's parameters, and published
with an atomic rename so a crashed run never leaves half a table behind.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
N_EVENTS = 10_000
N_USERS = 150
N_DOCUMENTS = 500

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()


def _events(rng: np.random.Generator) -> pa.Table:
    # Event times: sorted uniform instants over 30 days from 2024-01-01, in µs.
    start_us = 1_704_067_200_000_000
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, N_EVENTS)) + start_us
    value = np.round(rng.exponential(50.0, N_EVENTS), 2)
    props = [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, N_EVENTS)]
    return pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS, dtype=np.int64)),
            "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, N_EVENTS)]),
            "value": pa.array(value, type=pa.float64()),
            "props": pa.array(props),
        }
    )


def _documents(rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        if i > 0 and rng.random() < 0.05:
            # Near-duplicate of an earlier document, as in the test data.
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(8, 80))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    langs = rng.choice(LANGS, size=N_DOCUMENTS, p=LANG_WEIGHTS)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCUMENTS, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([str(x) for x in langs]),
            "source": pa.array([f"src{i % 20}" for i in range(N_DOCUMENTS)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def ensure_tables(work_dir: str) -> str:
    """Return a directory holding ``events.parquet`` and ``documents.parquet``,
    generating it first if this checkout has none yet."""
    tag = f"seed{DATA_SEED}-ev{N_EVENTS}-u{N_USERS}-doc{N_DOCUMENTS}"
    final = os.path.join(work_dir, "data", tag)
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng(DATA_SEED)
    # One row group per file, like the test data: the scan has one split.
    pq.write_table(_events(rng), os.path.join(tmp, "events.parquet"), row_group_size=1 << 30)
    pq.write_table(_documents(rng), os.path.join(tmp, "documents.parquet"), row_group_size=1 << 30)
    try:
        os.rename(tmp, final)
    except OSError:
        # Another run published the same tables first; theirs are identical.
        shutil.rmtree(tmp, ignore_errors=True)
    return final
