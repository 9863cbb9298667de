"""Input tables of the `gates` workload, made from the seed.

Writes `events.parquet` and `documents.parquet` with the schemas and the
shape of the repository's sf0.1 test tables (FIXTURES.md §4), which the
benchmark cannot read because they live outside the repository:

- events: 100,000 rows, event ids in time order over 30 days, 1,500 users
  drawn uniformly, 5 event types, exponential values (mean 50), 100 props;
- documents: 5,000 texts of 10-99 words drawn uniformly from a 30-word
  vocabulary; about 5% are near duplicates, a copy of an earlier text with
  its last word dropped or " dup" appended; lang is en with weight 0.4 and
  de, fr, es, zh with 0.15 each; 20 sources.

`scale` multiplies the row and user counts: 0.1 gives the sf0.01 shape,
which the workload's untimed warm-up pass runs on. perfbench/README.md lists
the measured figures of both tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# at scale 1 (sf0.1)
N_EVENTS = 100_000
N_USERS = 1_500
N_DOCS = 5_000
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
VOCAB = ("a the batch part spark line column order small sort fast value scan "
         "hash slow group agg filter query big key window row table stream merge "
         "data join vector customer").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
NEAR_DUP_SHARE = 0.05


def events(rng, n_events, n_users):
    base = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    return pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(base + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events).tolist(), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })


def documents(rng, n_docs):
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < NEAR_DUP_SHARE:
            src = texts[rng.integers(0, i)]
            texts.append(src + " dup" if rng.random() < 0.5 else src.rsplit(" ", 1)[0])
        else:
            texts.append(" ".join(VOCAB[k] for k in rng.integers(0, len(VOCAB), rng.integers(10, 100))))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write(out_dir, seed, scale=1.0):
    """Write both tables into `out_dir`; returns the number of rows written."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    ev = events(rng, round(N_EVENTS * scale), round(N_USERS * scale))
    docs = documents(rng, round(N_DOCS * scale))
    pq.write_table(ev, os.path.join(out_dir, "events.parquet"))
    pq.write_table(docs, os.path.join(out_dir, "documents.parquet"))
    return ev.num_rows + docs.num_rows
