"""Seeded input generators for the benchmark.

Every input the program under test sees is written here, from a numpy
``Generator``: the same seed gives byte-identical parquet files. The tables
have the schemas of the sf0.1 test tables ``events``, ``documents`` and
``embeddings`` and the distributions measured on them (``fit_check.py``
prints both side by side; ``README.md`` has the figures):

- events: 100,000 rows over 30 days in event-time order, ``event_id`` in
  that order, users uniform over 1,500, five event types uniform, ``value``
  exponential with mean 50 rounded to cents, ``props`` ``{"k": 0..99}``;
- documents: 5,000 documents of 10..99 words drawn uniformly from a
  30-word vocabulary, sources round-robin over 20, languages 41% ``en`` and
  about 15% each of four others; 5% of them (250) are another document's
  text with `` dup`` appended;
- embeddings: 2,000 unit-length 64-dimensional vectors in uniformly random
  directions with labels uniform over 10.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00 UTC
DAY_US = 86_400_000_000
SPAN_DAYS = 30
USERS = 1_500

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]

# The tables the queries read are fixed, so that the oracle fingerprints
# stored beside this file stay valid; the run seed permutes the query order
# instead. Sizes are the sf0.1 ones ("full") and the self-test's ("tiny").
FIXED_SEED = 20_261_017
FIXED_SIZES = {
    "full": {"documents": 5_000, "events": 100_000, "embeddings": 2_000},
    "tiny": {"documents": 100, "events": 2_000, "embeddings": 200},
}


def events_table(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` events in event-time order over SPAN_DAYS days."""
    ts = np.sort(rng.integers(0, SPAN_DAYS * DAY_US, n)) + EPOCH_US
    value = np.round(rng.exponential(50.0, n), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, USERS, n), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
        "value": pa.array(value, pa.float64()),
        "props": pa.array(props, pa.string()),
    })


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), int(k))])
             for k in rng.integers(10, 100, n)]
    dups = rng.choice(n, n // 20, replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    for i, j in zip(dups, rng.choice(originals, dups.size)):
        texts[i] = texts[j] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    vecs = rng.standard_normal((n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def write_fixed(sf_dir: str, names: list[str], scale: str) -> dict:
    """Write the fixed tables ``names`` at ``scale`` into ``sf_dir`` as
    ``<name>.parquet``; returns their sizes and value digests."""
    os.makedirs(sf_dir, exist_ok=True)
    info = {}
    for name in names:
        build, stream = {"documents": (documents_table, 1), "events": (events_table, 2),
                         "embeddings": (embeddings_table, 3)}[name]
        table = build(np.random.default_rng([FIXED_SEED, stream]), FIXED_SIZES[scale][name])
        path = os.path.join(sf_dir, f"{name}.parquet")
        pq.write_table(table, path)
        info[name] = {"rows": table.num_rows, "files": 1,
                      "bytes": os.path.getsize(path), "content_md5": table_md5(table)}
    return info


def table_md5(table: pa.Table) -> str:
    """Digest of a table's values (not of its parquet encoding)."""
    h = hashlib.md5()
    for col in table.columns:
        for chunk in col.chunks:
            for buf in chunk.buffers():
                if buf is not None:
                    h.update(buf)
    return h.hexdigest()


def write_files(table: pa.Table, out_dir: str, files: int) -> dict:
    """Split ``table`` into ``files`` numbered parquet files of equal rows."""
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    nbytes = 0
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), path)
        nbytes += os.path.getsize(path)
    return {"rows": n, "files": files, "bytes": nbytes}


def raw_events(seed: int, rows: int) -> pa.Table:
    """Raw events for the core pipeline: a seeded month of events (the sf0.1
    volume at 100,000 rows) minus a seeded tail trim of up to 1%."""
    rng = np.random.default_rng(seed)
    table = events_table(rng, rows)
    return table.slice(0, rows - int(rng.integers(0, rows // 100)))


def write_backlog(table: pa.Table, out_dir: str, rng: np.random.Generator,
                  files: int, rows: tuple[int, int]) -> dict:
    """A streaming backlog: ``files`` consecutive event-time slices of
    ``table``, each of a seeded size in ``[rows[0], rows[1])``, from a seeded
    start, written in event-time order."""
    sizes = rng.integers(rows[0], rows[1], files)
    start = int(rng.integers(0, table.num_rows - int(sizes.sum())))
    os.makedirs(out_dir, exist_ok=True)
    nbytes = 0
    for i, size in enumerate(sizes):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(start, int(size)), path)
        start += int(size)
        nbytes += os.path.getsize(path)
    return {"rows": int(sizes.sum()), "files": files, "bytes": nbytes}

