"""Seeded input generator for the benchmark.

Everything a run reads is made here from ``--seed``: the dimension
tables (``customer``, ``nation``, ``region``), the corpus tables
(``documents``, ``embeddings``) and an ``events`` log, written as one
batch table or as a sequence of stream files.  The same seed gives
identical inputs.  The shapes follow the repository's synthetic test tables
(the ``events`` schema with naive microsecond timestamps, a 30-word
corpus with 5% ``dup``-suffixed near copies, unit-norm 64-d embeddings).

Properties the benchmark's claims may depend on are measured on the
generated data and returned by :func:`generate`:

* users are Zipf-skewed over the customer key range, so a few users are
  hot keys in every per-user state store;
* a fixed share of events carries a user id outside the customer range,
  so the J1 enrichment join drops a known count;
* a fixed share of events is moved into a later stream file, so those
  events arrive after newer ones (out of order across files).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
NATIONS = (
    "ALGERIA ARGENTINA BRAZIL CANADA EGYPT ETHIOPIA FRANCE GERMANY INDIA "
    "INDONESIA IRAN IRAQ JAPAN JORDAN KENYA MOROCCO MOZAMBIQUE PERU CHINA "
    "ROMANIA SAUDI_ARABIA VIETNAM RUSSIA UNITED_KINGDOM UNITED_STATES"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)

EPOCH_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
SPAN_US = 30 * 86_400 * 1_000_000  # events cover 30 days

ZIPF_S = 1.1
UNKNOWN_USER_SHARE = 0.02
OUT_OF_ORDER_SHARE = 0.02
DUP_DOC_SHARE = 0.05


@dataclass(frozen=True)
class Size:
    """Input size of one workload: the tables plus one event log, given
    as the number of events in each of its files, in publish order.  A
    batch log (one file) is the table ``tables/events.parquet``; a
    stream log is written as files under ``<out>/stream/``."""

    customers: int
    documents: int
    embeddings: int
    file_events: tuple[int, ...]
    stream: bool


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _dimensions(rng: np.random.Generator, size: Size, out: str) -> None:
    keys = np.arange(size.customers, dtype=np.int64)
    _write(
        pa.table(
            {
                "c_custkey": keys,
                "c_name": [f"Customer#{k:09d}" for k in keys],
                "c_nationkey": rng.integers(0, 25, size.customers).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, size.customers), 2),
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, size.customers)],
            }
        ),
        os.path.join(out, "customer.parquet"),
    )
    _write(
        pa.table(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": NATIONS,
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        os.path.join(out, "nation.parquet"),
    )
    _write(
        pa.table({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}),
        os.path.join(out, "region.parquet"),
    )


def _corpus(rng: np.random.Generator, size: Size, out: str) -> None:
    texts = []
    for i in range(size.documents):
        if i > 10 and rng.random() < DUP_DOC_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB), n)]))
    _write(
        pa.table(
            {
                "doc_id": np.arange(size.documents, dtype=np.int64),
                "text": texts,
                "lang": np.array(LANGS)[rng.choice(len(LANGS), size.documents, p=LANG_P)],
                "source": [f"src{i % 20}" for i in range(size.documents)],
                "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
            }
        ),
        os.path.join(out, "documents.parquet"),
    )
    labels = rng.integers(0, 10, size.embeddings).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (size.embeddings, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32()))
    _write(
        pa.table(
            {
                "vec_id": np.arange(size.embeddings, dtype=np.int64),
                "embedding": emb,
                "label": labels,
            }
        ),
        os.path.join(out, "embeddings.parquet"),
    )


def _events(rng: np.random.Generator, customers: int, file_events) -> tuple[pa.Table, np.ndarray]:
    """An event log in publish order plus each event's stream file."""
    n, files = sum(file_events), len(file_events)
    ts = EPOCH_US + np.sort(rng.integers(0, SPAN_US, n))
    weights = 1.0 / np.arange(1, customers + 1) ** ZIPF_S
    rank = rng.choice(customers, n, p=weights / weights.sum())
    users = rng.permutation(customers)[rank].astype(np.int64)
    unknown = rng.random(n) < UNKNOWN_USER_SHARE
    users[unknown] = customers + rng.integers(0, 1000, int(unknown.sum()))
    value = np.round(rng.uniform(0.0, 200.0, n), 2)
    table = pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": users,
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": value,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    # files hold consecutive event ids; a fixed share of events is held
    # back 1-3 files, so it is published after newer events
    file_of = np.repeat(np.arange(files), file_events)
    late = rng.random(n) < OUT_OF_ORDER_SHARE
    file_of[late] = np.minimum(file_of[late] + rng.integers(1, 4, int(late.sum())), files - 1)
    order = np.lexsort((np.arange(n), file_of))
    return table.take(order), file_of[order]


def _properties(events: pa.Table, file_of: np.ndarray, customers: int, files: int) -> dict:
    users = events.column("user_id").to_numpy()
    ts = events.column("ts").cast(pa.int64()).to_numpy()
    counts = np.sort(np.bincount(users))[::-1]
    counts = counts[counts > 0]
    top = max(1, len(counts) // 100)
    # an event is out of order when an earlier file holds a newer event
    prev_max = np.full(files, np.iinfo(np.int64).min)
    np.maximum.at(prev_max, file_of, ts)
    prev_max = np.concatenate(([np.iinfo(np.int64).min], np.maximum.accumulate(prev_max)[:-1]))
    unknown = users >= customers
    return {
        "events": int(len(users)),
        "files": files,
        "events_per_file_p50": float(np.median(np.bincount(file_of, minlength=files))),
        "distinct_users": int(len(counts)),
        "top1pct_user_event_share": round(float(counts[:top].sum() / len(users)), 4),
        "out_of_order_share": round(float((ts < prev_max[file_of]).mean()), 4),
        "unknown_user_share": round(float(unknown.mean()), 4),
        "j1_dropped_events": int((unknown & (users % 10 != 0)).sum()),
    }


def generate(seed: int, size: Size, out: str) -> dict:
    """Write every input under ``out`` and return the measured input
    properties.

    ``out/tables`` holds one parquet file per table (the registry's
    ``sf_dir`` layout); a stream log's files are named in publish order.
    """
    rng = np.random.default_rng(seed)
    tables = os.path.join(out, "tables")
    os.makedirs(tables)
    _dimensions(rng, size, tables)
    _corpus(rng, size, tables)
    files = len(size.file_events)
    events, file_of = _events(rng, size.customers, size.file_events)
    props = {"customers": size.customers, "documents": size.documents,
             "embeddings": size.embeddings,
             "events": _properties(events, file_of, size.customers, files)}
    if not size.stream:
        _write(events, os.path.join(tables, "events.parquet"))
        return props
    os.makedirs(os.path.join(out, "stream"))
    bounds = np.searchsorted(file_of, np.arange(files + 1))
    for i in range(files):
        part = events.slice(bounds[i], bounds[i + 1] - bounds[i])
        _write(part, os.path.join(out, "stream", f"part-{i:05d}.parquet"))
    return props
