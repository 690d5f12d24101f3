"""Seeded inputs for the curation passes of traced async_hot_keys runs,
shaped like the engine's sf0.01 test tables: 500 documents (a 5% share are
near-duplicates: an earlier document's text plus ' dup'), 10,000 events of
150 users over 30 days and 500 64-dimensional unit embeddings in 10 label
clusters. The same seed always gives byte-identical tables; the engine only
ever sees the files.
"""
import datetime
import math
import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]

N_DOCS, N_EVENTS, N_USERS, N_VECS, DIM, N_LABELS = 500, 10000, 150, 500, 64, 10


def documents(rng):
    texts, langs = [], []
    for i in range(N_DOCS):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[rng.randrange(i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100))))
        langs.append(rng.choices(LANGS, LANG_WEIGHTS)[0])
    return pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def events(rng):
    start = datetime.datetime(2024, 1, 1)
    span_us = 30 * 86400 * 10**6
    offsets = sorted(rng.randrange(span_us) for _ in range(N_EVENTS))
    return pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": pa.array([start + datetime.timedelta(microseconds=o) for o in offsets],
                       pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(N_USERS) for _ in range(N_EVENTS)], pa.int64()),
        "event_type": pa.array([rng.choice(EVENT_TYPES) for _ in range(N_EVENTS)], pa.string()),
        "value": pa.array([round(min(560.0, rng.expovariate(1 / 60.0)), 2)
                           for _ in range(N_EVENTS)], pa.float64()),
        "props": pa.array([f'{{"k": {rng.randrange(100)}}}' for _ in range(N_EVENTS)],
                          pa.string()),
    })


def embeddings(rng):
    centers = [[rng.gauss(0, 1) for _ in range(DIM)] for _ in range(N_LABELS)]
    vecs, labels = [], []
    for _ in range(N_VECS):
        label = rng.randrange(N_LABELS)
        v = [c + rng.gauss(0, 1.2) for c in centers[label]]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
        labels.append(label)
    return pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def generate(out_dir, seed):
    """Writes documents/events/embeddings parquet files under out_dir."""
    for i, (name, make) in enumerate([("documents", documents), ("events", events),
                                      ("embeddings", embeddings)]):
        pq.write_table(make(random.Random(seed * 7919 + i)), f"{out_dir}/{name}.parquet")
