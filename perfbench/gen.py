"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, size): the same arguments
write byte-for-byte the same table content, which ``table_hash``
checks. Two inputs are built here:

- ``write_events``: a month of rewards events (January 2024) in the
  ``events`` schema the finance code reads. After
  ``transactions_from_events`` about 70% are earned, 20% spent and 10%
  expired. Customer activity is skewed but bounded: the busiest
  customer has about ``n_rows / sqrt(n_customers)`` rows. The table is
  written as several files with several row groups each, so the scan
  spreads over every core.
- ``write_corpus_base``: a small document corpus plus an embedding
  table in the layout ``tools/scaleup_probe.build_scaled_dir`` derives
  its larger corpora from (contiguous ``doc_id`` from 0, single-file
  tables). The derivation itself is called unmodified by the workload.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: earned event types first; purchase -> spent, error -> expired
#: (sources/ingest.transactions_from_events)
EVENT_TYPES = ("signup", "click", "view", "purchase", "error")
EVENT_PROBS = (0.25, 0.25, 0.20, 0.20, 0.10)

MONTH_START_US = 1704067200 * 1_000_000  # 2024-01-01 00:00:00 UTC
MONTH_US = 31 * 86400 * 1_000_000

BASE_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
#: 3000 words drawn with Zipf(1.0) frequencies: with the 30 base words
#: alone every document shares a word 3-gram with the decontamination
#: blocklist and the funnel empties at its first stage
VOCAB = [BASE_WORDS[i % 30] + (str(i // 30) if i >= 30 else "")
         for i in range(3000)]
_ZIPF = 1.0 / np.arange(1, len(VOCAB) + 1)
VOCAB_P = _ZIPF / _ZIPF.sum()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_PROBS = (0.40, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20
EMB_DIM = 64
EMB_CLUSTERS = 10

#: tables the finance and corpus code never reads but the scale-up
#: derivation copies verbatim; written as empty placeholders
PLACEHOLDER_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events",
)


def events_table(seed: int, n_rows: int) -> pa.Table:
    """One month of events, ordered by time (event_id follows ts)."""
    rng = np.random.default_rng([seed, 1])
    n_customers = max(n_rows // 20, 1)
    ts = np.sort(rng.integers(0, MONTH_US, n_rows)) + MONTH_START_US
    kind = rng.choice(len(EVENT_TYPES), size=n_rows, p=EVENT_PROBS)
    # u**2 puts density near 0: customer rank r gets about
    # n_rows / sqrt(n_customers) rows at r = 0, tapering smoothly
    rank = np.minimum(
        (n_customers * rng.random(n_rows) ** 2).astype(np.int64),
        n_customers - 1,
    )
    user_id = rng.permutation(n_customers)[rank].astype(np.int64)
    value = np.round(rng.gamma(2.0, 25.0, n_rows) + 0.01, 2)
    types = pa.array(np.asarray(EVENT_TYPES, dtype=object)[kind], pa.string())
    return pa.table({
        "event_id": pa.array(np.arange(n_rows, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(user_id),
        "event_type": types,
        "value": pa.array(value, pa.float64()),
    })


def write_events(out_dir: str, seed: int, n_rows: int,
                 n_files: int = 8, row_groups_per_file: int = 4) -> str:
    """Write ``events.parquet`` as a directory of ``n_files`` files,
    each with ``row_groups_per_file`` row groups. Returns the sf dir."""
    table = events_table(seed, n_rows)
    path = os.path.join(out_dir, "events.parquet")
    os.makedirs(path, exist_ok=True)
    per_file = -(-n_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * per_file, per_file)
        pq.write_table(
            part, os.path.join(path, f"part-{i:03d}.parquet"),
            row_group_size=max(-(-part.num_rows // row_groups_per_file), 1),
        )
    return out_dir


def _doc_texts(rng: np.random.Generator, n_docs: int) -> list[str]:
    """Random texts over VOCAB; ~4% near-duplicates of an earlier doc
    (one token replaced, a ``dup`` marker appended) and ~0.2% exact
    copies, so the dedup stages have real work."""
    lengths = rng.integers(8, 97, n_docs)
    words = np.asarray(VOCAB, dtype=object)
    draws = words[rng.choice(len(VOCAB), size=int(lengths.sum()), p=VOCAB_P)]
    ends = np.cumsum(lengths)
    kind = rng.random(n_docs)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and kind[i] < 0.04:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = str(
                words[int(rng.integers(0, len(words)))])
            texts.append(" ".join(toks + ["dup"]))
        elif i > 0 and kind[i] < 0.042:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(draws[ends[i] - lengths[i]:ends[i]]))
    return texts


def corpus_tables(seed: int, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 2])
    texts = _doc_texts(rng, n_docs)
    lang = np.asarray(LANGS, dtype=object)[
        rng.choice(len(LANGS), size=n_docs, p=LANG_PROBS)]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_docs)],
                           pa.string()),
        "n_chars": pa.array(np.fromiter((len(t) for t in texts),
                                        np.int64, n_docs)),
    })
    centers = rng.normal(0.0, 0.12, (EMB_CLUSTERS, EMB_DIM))
    label = rng.integers(0, EMB_CLUSTERS, n_vecs)
    vecs = (centers[label]
            + rng.normal(0.0, 0.05, (n_vecs, EMB_DIM))).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), EMB_DIM).cast(pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
    return {"documents": docs, "embeddings": emb}


def write_corpus_base(out_dir: str, seed: int, n_docs: int = 5000,
                      n_vecs: int = 2000) -> str:
    """Write a base corpus dir (single-file tables) for
    ``build_scaled_dir``. Returns the dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in corpus_tables(seed, n_docs, n_vecs).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    empty = pa.table({"placeholder": pa.array([], pa.int64())})
    for name in PLACEHOLDER_TABLES:
        pq.write_table(empty, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def table_hash(table: pa.Table, key: str) -> str:
    """Order-insensitive content hash: rows sorted by ``key``, then
    each column's values hashed in that order."""
    table = table.sort_by(key)
    h = hashlib.sha256()
    for name in sorted(table.column_names):
        col = table.column(name).combine_chunks()
        h.update(name.encode())
        if pa.types.is_string(col.type):
            h.update("\x00".join(col.to_pylist()).encode())
        elif pa.types.is_list(col.type):
            h.update(col.value_lengths().to_numpy().tobytes())
            h.update(col.flatten().to_numpy().tobytes())
        else:
            h.update(col.cast(pa.int64() if pa.types.is_timestamp(col.type)
                              else col.type).to_numpy().tobytes())
    return h.hexdigest()


def parquet_hash(path: str, key: str) -> str:
    """``table_hash`` of a parquet file or directory of files."""
    return table_hash(pq.read_table(path), key)
