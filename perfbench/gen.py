"""Seeded input generators for the benchmark.

Every generator takes the seed as an argument and writes
``{out_dir}/<table>.parquet`` with the schema of the repo's
``events`` / ``embeddings`` test tables, so ``run_pipeline(sf_dir=...)``
and ``spark.read.parquet`` consume the files unchanged.  The same seed
gives byte-identical files; the program under test receives only these
files.

Layout matters for parallelism: Spark plans one scan task per file for
files this small, so each table is a directory of ``n_files`` part
files (one per core by default) rather than a single file.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("purchase", "signup", "click", "view", "error")
# the four days before the reports' anchor (suite.ANCHOR, 2024-01-25,
# a Thursday): the this-week, previous-week, 14-day, month and year
# periods all hold rows, and bronze gets one day partition per day.
# (The repo's test events span 30 days; on a 4-vCPU host a cold run
# over 30 days measured ~10 s slower than over 3, which the run budget
# cannot carry.)
EVENTS_START = datetime(2024, 1, 21)
EVENTS_SPAN_S = 4 * 86400
# events per user as in the repo's test events table (sf0.01: 10,000
# events over 150 users)
EVENTS_PER_USER = 67
# Zipf exponent of the user skew: assumed, no trace of real traffic is
# available; at 1.3 the busiest user sends ~25% of the events
ZIPF_A = 1.3
# overlap re-fetches as a share of the distinct events: the measured
# refresh tick size, ~1k re-fetched rows per ~5k new events
REFETCH_FRAC = 0.2
# late arrivals (rows written after newer events): assumed, "some late
# rows" is all the sizing says
LATE_FRAC = 0.03

EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)
EMBEDDINGS_SCHEMA = pa.schema(
    [
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]
)

# k-means trains on exact integerized means and refuses nonzero
# elements below 2^-27; snapping to a 2^-20 grid keeps every element
# either 0 or comfortably above that floor
_GRID = 2.0**20


def _write_parts(table: pa.Table, path: str, n_files: int) -> list[dict]:
    """Write ``table`` as ``n_files`` contiguous part files under the
    directory ``path``; returns the layout (file, rows, row groups)."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    layout = []
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        name = f"part-{i:05d}.parquet"
        pq.write_table(part, os.path.join(path, name), row_group_size=1 << 20)
        groups = pq.ParquetFile(os.path.join(path, name)).num_row_groups
        layout.append({"file": name, "rows": part.num_rows, "row_groups": groups})
    return layout


def events_table(seed: int, n_events: int) -> pa.Table:
    """``n_events`` distinct events plus overlap re-fetches.

    - users are Zipf(``ZIPF_A``)-skewed over one id per
      ``EVENTS_PER_USER`` events;
    - ``props`` is ``{"k": N}`` with N in [0, 100);
    - timestamps are strictly increasing in ``event_id`` (unique, so
      the pipeline's (timestamp, message) key identifies an event);
    - ``REFETCH_FRAC`` of the events appear a second time, byte-equal,
      at the end of the file (the overlap a poller re-fetches);
    - ``LATE_FRAC`` of the rows are moved to the end of the file, after
      newer events (late arrivals).
    """
    rng = np.random.default_rng(seed)
    ids = np.arange(n_events, dtype=np.int64)
    step_us = EVENTS_SPAN_S * 1_000_000 // n_events
    base_us = (EVENTS_START - datetime(1970, 1, 1)) // timedelta(microseconds=1)
    ts = base_us + ids * step_us + rng.integers(0, step_us, n_events)
    users = (rng.zipf(ZIPF_A, n_events) - 1) % max(1, n_events // EVENTS_PER_USER)
    etype = rng.integers(0, len(EVENT_TYPES), n_events)
    value = np.round(rng.exponential(50.0, n_events) + 0.01, 2)
    k = rng.integers(0, 100, n_events)

    order = np.arange(n_events)
    late = rng.choice(n_events, int(n_events * LATE_FRAC), replace=False)
    order = np.concatenate([np.delete(order, late), np.sort(late)])
    refetch = np.sort(rng.choice(n_events, int(n_events * REFETCH_FRAC), replace=False))
    order = np.concatenate([order, refetch])

    return pa.table(
        {
            "event_id": pa.array(ids[order]),
            "ts": pa.array(ts[order], type=pa.timestamp("us")),
            "user_id": pa.array(users[order].astype(np.int64)),
            "event_type": pa.array([EVENT_TYPES[i] for i in etype[order]]),
            "value": pa.array(value[order]),
            "props": pa.array([f'{{"k": {int(x)}}}' for x in k[order]]),
        },
        schema=EVENTS_SCHEMA,
    )


def write_events(seed: int, out_dir: str, n_events: int, n_files: int) -> dict:
    t = events_table(seed, n_events)
    layout = _write_parts(t, os.path.join(out_dir, "events.parquet"), n_files)
    return {
        "table": "events",
        "rows": t.num_rows,
        "distinct_events": n_events,
        "files": layout,
    }


DOCUMENTS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)
# languages, sources and document lengths of the repo's test documents
# table (sf0.01: en/zh/es/de/fr, 20 sources, 10-99 words)
DOC_LANGS = ("en", "de", "fr", "es", "zh")
DOC_SOURCES = 20
DOC_WORDS = (10, 100)
VOCAB_PER_LANG = 2000


def _word(lang: str, i: int) -> str:
    """A lowercase alphabetic word, distinct per (lang, i)."""
    out = ""
    while True:
        out = chr(ord("a") + i % 26) + out
        i //= 26
        if i == 0:
            return lang + out


def documents(seed: int, n_docs: int) -> pa.Table:
    """``n_docs`` documents whose words are drawn uniformly from a
    per-language vocabulary."""
    rng = np.random.default_rng([seed, 3])
    lang = rng.integers(0, len(DOC_LANGS), n_docs)
    n_words = rng.integers(DOC_WORDS[0], DOC_WORDS[1], n_docs)
    joined = [
        " ".join(_word(DOC_LANGS[l], w) for w in rng.integers(0, VOCAB_PER_LANG, n).tolist())
        for l, n in zip(lang, n_words)
    ]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(joined),
            "lang": pa.array([DOC_LANGS[l] for l in lang]),
            "source": pa.array([f"src{i}" for i in rng.integers(0, DOC_SOURCES, n_docs)]),
            "n_chars": pa.array([len(t) for t in joined], type=pa.int64()),
        },
        schema=DOCUMENTS_SCHEMA,
    )


def write_documents(seed: int, out_dir: str, n_docs: int, n_files: int) -> dict:
    layout = _write_parts(documents(seed, n_docs), os.path.join(out_dir, "documents.parquet"), n_files)
    return {"table": "documents", "rows": n_docs, "files": layout}


def _centres(seed: int, n_clusters: int, dim: int) -> np.ndarray:
    c = np.random.default_rng([seed, 0]).normal(size=(n_clusters, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def _around(
    rng: np.random.Generator, centres: np.ndarray, label: np.ndarray, spread: float
) -> np.ndarray:
    """Centre plus Gaussian noise of expected norm ``spread``, snapped
    to a 2^-20 grid."""
    dim = centres.shape[1]
    x = centres[label] + rng.normal(scale=spread / np.sqrt(dim), size=(len(label), dim))
    return (np.round(x * _GRID) / _GRID).astype(np.float32)


# noise norm relative to the unit-norm centres: tight enough that a
# vector's 10 nearest neighbours (by dot product) are its own cluster
SPREAD = 0.1


def embeddings_table(seed: int, n: int, dim: int, cluster_size: int) -> pa.Table:
    """``n`` vectors in clusters of exactly ``cluster_size`` around
    unit-norm random centres; ``label`` is the cluster."""
    label = np.repeat(np.arange(n // cluster_size), cluster_size)
    x = _around(
        np.random.default_rng([seed, 2]), _centres(seed, n // cluster_size, dim), label, SPREAD
    )
    flat = pa.array(x.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(label.astype(np.int32)),
        },
        schema=EMBEDDINGS_SCHEMA,
    )


def write_embeddings(
    seed: int, out_dir: str, n: int, dim: int, cluster_size: int, n_files: int
) -> dict:
    t = embeddings_table(seed, n, dim, cluster_size)
    layout = _write_parts(t, os.path.join(out_dir, "embeddings.parquet"), n_files)
    return {"table": "embeddings", "rows": n, "dim": dim, "files": layout}


def query_vectors(seed: int, n_queries: int, n: int, dim: int, cluster_size: int) -> np.ndarray:
    """Held-out probe vectors: one fresh draw around each of the first
    ``n_queries`` cluster centres of ``embeddings_table(seed, n, ...)``."""
    return _around(
        np.random.default_rng([seed, 1]),
        _centres(seed, n // cluster_size, dim),
        np.arange(n_queries),
        SPREAD,
    )
