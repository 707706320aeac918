"""Seeded input generator for the benchmark.

Builds every table with numpy/pyarrow — never through the system under
test — following FIXTURES.md's schemas and value domains, so the predicates
the ops hard-code stay selective: the ASIA region, ``event_type='error'``,
order dates ending just before the ``2001-09-01`` anchor, and RFM scores
that reach ``555``.

The same seed gives byte-identical parquet files; ``content_hash`` proves it.
Generated sets are cached on disk per (set, seed) under the benchmark's own
work directory, so repeated runs on one seed skip generation.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "fr", "es", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = (
    "spark window merge table column vector stream value data small join filter big group hash "
    "customer sort order slow line part fast row the agg key query a scan batch"
).split()
EMBED_DIM = 64
NEAR_DUP_SHARE = 0.05  # share of documents that copy another text plus " dup" (FIXTURES sf0.1)

_ORDER_START = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = int((np.datetime64("2001-08-01", "D") - _ORDER_START).astype(np.int64)) + 1
_EVENT_START_NS = 1704067200 * 10**9  # 2024-01-01T00:00:00Z
_EVENT_SPAN_NS = 30 * 86400 * 10**9


def star_tables(rng: np.random.Generator, n_customers: int) -> dict[str, pa.Table]:
    """region, nation, customer, orders, events — the tables the portrait ops
    read. As in the sf0.1 fixture: 10 orders per customer, and events from
    the first tenth of the customer keys, about 67 per user."""
    n_orders = 10 * n_customers
    n_users = max(1, n_customers // 10)
    n_events = n_customers * 100 // 15

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    custkey = np.arange(n_customers, dtype=np.int64)
    customer = pa.table({
        "c_custkey": custkey,
        "c_name": [f"Customer#{i:09d}" for i in range(n_customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_customers), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_customers), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_customers)],
    })
    odate = _ORDER_START + rng.integers(0, _ORDER_DAYS, n_orders).astype("timedelta64[D]")
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_customers, n_orders, dtype=np.int64),
        "o_orderstatus": np.array(ORDER_STATUS)[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[ms]"), pa.timestamp("ms")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    })
    ts = np.sort(_EVENT_START_NS + rng.integers(0, _EVENT_SPAN_NS, n_events, dtype=np.int64))
    events = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        # nanosecond timestamps, as the fixture ships them (FIXTURES.md pitfall)
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": rng.integers(0, n_users, n_events, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.uniform(0.01, 490.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    return {"region": region, "nation": nation, "customer": customer, "orders": orders, "events": events}


def corpus_tables(rng: np.random.Generator, n_docs: int, n_vecs: int, id_offset: int) -> dict[str, pa.Table]:
    """documents + embeddings for one corpus shard. Ids start at
    ``id_offset`` so shards of one run never share a key."""
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, n_docs)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    n_dup = int(round(n_docs * NEAR_DUP_SHARE))
    dup_rows = rng.choice(n_docs, size=n_dup, replace=False)
    for r in dup_rows:
        src = int(rng.integers(0, n_docs))
        if src == r:
            src = (src + 1) % n_docs
        texts[r] = texts[src] + " dup"
    doc_id = np.arange(id_offset, id_offset + n_docs, dtype=np.int64)
    documents = pa.table({
        "doc_id": doc_id,
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in doc_id],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.normal(0.0, 0.125, (n_vecs, EMBED_DIM)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": np.arange(id_offset, id_offset + n_vecs, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMBED_DIM).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return {"documents": documents, "embeddings": embeddings}


def content_hash(table_dir: str) -> str:
    """sha256 over the bytes of every parquet file in ``table_dir``, in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(table_dir)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(table_dir, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def materialize(cache_dir: str, key: str, build) -> tuple[str, str, bool]:
    """Return ``(table_dir, content_hash, was_cached)`` for the table set
    ``key``, calling ``build() -> dict[name, pa.Table]`` only on a cache miss.
    A set is complete once its ``HASH`` file exists; a half-written set left
    by a killed run is rebuilt."""
    table_dir = os.path.join(cache_dir, key)
    marker = os.path.join(table_dir, "HASH")
    if os.path.exists(marker):
        os.utime(table_dir)  # most recently used, for prune_cache
        with open(marker) as f:
            return table_dir, f.read().strip(), True
    shutil.rmtree(table_dir, ignore_errors=True)
    os.makedirs(table_dir)
    for name, table in build().items():
        # byte-identical for identical arrays under one pyarrow version
        pq.write_table(table, os.path.join(table_dir, f"{name}.parquet"), compression="snappy")
    digest = content_hash(table_dir)
    with open(marker, "w") as f:
        f.write(digest)
    return table_dir, digest, False


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream...) — shard k of a seed never
    depends on how many shards were drawn before it."""
    return np.random.default_rng([seed, *stream])


def prune_cache(cache_dir: str, keep: int) -> None:
    """Drop all but the ``keep`` most recently used table sets."""
    if not os.path.isdir(cache_dir):
        return
    entries = sorted(
        (os.path.join(cache_dir, e) for e in os.listdir(cache_dir)),
        key=os.path.getmtime,
        reverse=True,
    )
    for path in entries[keep:]:
        shutil.rmtree(path, ignore_errors=True)
