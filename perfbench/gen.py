"""Seeded input generator for the benchmark.

Everything here is numpy + pyarrow and independent of the package under
test, so a change to the program cannot change the workload. The same
(seed, size) always yields byte-identical parquet files; generated sets are
cached under the work directory and reused.

Two input families:

- ``event_batches``: K event batches in the layout of the ``events`` test table
  (event_id, ts, user_id, event_type, value, props). User activity is
  Zipf-skewed over a fixed user population, so heavy users appear in every
  batch with different aggregates while tail users come and go.
- ``offline_tables``: the events / orders / documents / embeddings tables
  the offline registry queries read, shaped like the repository's test tables
  (same columns, types and value ranges; near-duplicate documents and
  clustered embeddings so the dedup and similarity operators find work).
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import shutil
import subprocess
import sys
from dataclasses import dataclass
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
ORDER_STATUS = np.array(["F", "O", "P"])
ORDER_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
LANGS = np.array(["en", "de", "fr", "es", "zh"])
VOCAB = np.array(
    (
        "a the spark batch part line column order small sort fast value scan hash "
        "slow group agg filter query big key window row table stream merge data "
        "join vector customer"
    ).split()
)
#: part of every cache key, so editing this generator never reuses stale sets
with open(__file__, "rb") as _fh:
    GEN_TAG = hashlib.sha1(_fh.read()).hexdigest()[:8]
EVENT_EPOCH = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86_400 * 1_000_000


@dataclass(frozen=True)
class EventSize:
    """Shape of one event batch."""

    n_events: int
    n_users: int
    zipf_a: float = 1.1

    @property
    def tag(self) -> str:
        return f"e{self.n_events}-u{self.n_users}-z{self.zipf_a}"


@dataclass(frozen=True)
class OfflineSize:
    """Row counts of the offline tables."""

    n_events: int
    n_users: int
    n_orders: int
    n_docs: int
    n_vectors: int
    dim: int = 64

    @property
    def tag(self) -> str:
        return (
            f"e{self.n_events}-u{self.n_users}-o{self.n_orders}"
            f"-d{self.n_docs}-v{self.n_vectors}x{self.dim}"
        )


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def zipf_probabilities(n: int, a: float) -> np.ndarray:
    """P(rank r) ∝ r^-a over ranks 1..n (bounded Zipf)."""
    w = np.arange(1, n + 1, dtype=np.float64) ** -a
    return w / w.sum()


def user_permutation(seed: int, n_users: int) -> np.ndarray:
    """Rank → user id (1-based), fixed per seed so the same users stay heavy
    in every batch of one data set."""
    rng = np.random.default_rng([seed, 7])
    return rng.permutation(n_users).astype(np.int64) + 1


def _events_table(rng: np.random.Generator, user_ids: np.ndarray) -> pa.Table:
    n = len(user_ids)
    offsets = np.sort(rng.integers(0, EVENT_SPAN_US, n))
    ts = EVENT_EPOCH + offsets.astype("timedelta64[us]")
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]
    amount = np.round(rng.exponential(50.0, n), 2)
    # purchases carry an amount; ~10% of other events do too, and the rest
    # are exactly 0.0 (the extractor keys total_purchases on value > 0)
    keep = (etype == "purchase") | (rng.random(n) < 0.1)
    value = np.where(keep, amount, 0.0)
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": user_ids.astype(np.int64),
            "event_type": etype,
            "value": value,
            "props": props,
        }
    )


def event_batches(cache_dir: str, seed: int, size: EventSize, n_batches: int) -> list[str]:
    """Write (or reuse) ``n_batches`` event batches; returns one directory per
    batch, each holding ``events.parquet``. Batch k is generated from
    (seed, k) alone, so asking for more batches later extends the set."""
    root = os.path.join(cache_dir, f"events-{GEN_TAG}-s{seed}-{size.tag}")
    os.makedirs(root, exist_ok=True)
    perm = user_permutation(seed, size.n_users)
    probs = zipf_probabilities(size.n_users, size.zipf_a)
    dirs = []
    for k in range(n_batches):
        d = os.path.join(root, f"batch{k}")
        path = os.path.join(d, "events.parquet")
        if not os.path.exists(path):
            os.makedirs(d, exist_ok=True)
            rng = np.random.default_rng([seed, 11, k])
            ranks = rng.choice(size.n_users, size=size.n_events, p=probs)
            _write(_events_table(rng, perm[ranks]), path)
        dirs.append(d)
    return dirs


def _documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.12:
            # near-duplicate of an earlier doc: a few words swapped
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 12)):
                words[j] = VOCAB[rng.integers(0, len(VOCAB))]
        else:
            words = list(VOCAB[rng.integers(0, len(VOCAB), int(rng.integers(8, 80)))])
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": LANGS[rng.integers(0, len(LANGS), n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int) -> pa.Table:
    centers = rng.standard_normal((10, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, n).astype(np.int32)
    noise = rng.standard_normal((n, dim))
    noise /= np.linalg.norm(noise, axis=1, keepdims=True)
    vec = centers[label] + 2.5 * noise
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vec.reshape(-1)), dim).cast(
        pa.list_(pa.float32())
    )
    return pa.table({"vec_id": np.arange(n, dtype=np.int64), "embedding": emb, "label": label})


def _orders(rng: np.random.Generator, n: int, n_customers: int) -> pa.Table:
    days = rng.integers(0, (np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int), n)
    date = (np.datetime64("1995-01-01") + days.astype("timedelta64[D]")).astype("datetime64[us]")
    return pa.table(
        {
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, n_customers, n).astype(np.int64),
            "o_orderstatus": ORDER_STATUS[rng.integers(0, 3, n)],
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n), 2),
            "o_orderdate": pa.array(date, pa.timestamp("us")),
            "o_orderpriority": ORDER_PRIORITY[rng.integers(0, 5, n)],
        }
    )


def offline_tables(cache_dir: str, seed: int, size: OfflineSize) -> str:
    """Write (or reuse) the offline tables; returns the directory holding
    ``{events,orders,documents,embeddings}.parquet``."""
    d = os.path.join(cache_dir, f"offline-{GEN_TAG}-s{seed}-{size.tag}")
    done = os.path.join(d, "_DONE")
    if os.path.exists(done):
        return d
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng([seed, 23])
    users = rng.integers(0, size.n_users, size.n_events)
    _write(_events_table(rng, users), os.path.join(d, "events.parquet"))
    _write(_orders(rng, size.n_orders, 10 * size.n_users), os.path.join(d, "orders.parquet"))
    _write(_documents(rng, size.n_docs), os.path.join(d, "documents.parquet"))
    _write(_embeddings(rng, size.n_vectors, size.dim), os.path.join(d, "embeddings.parquet"))
    open(done, "w").close()
    return d


def in_child(func: str, cache_dir: str, seed: int, size: EventSize | OfflineSize, *args: Any) -> Any:
    """Call ``func`` (``event_batches`` or ``offline_tables``) in a child
    Python process and return its result, so the generator's memory never
    shows in the driver process's resident set."""
    call = json.dumps([func, cache_dir, seed, type(size).__name__, dataclasses.asdict(size), *args])
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", "import sys; from perfbench import gen; gen._child(sys.argv[1])", call],
        cwd=root, stdout=subprocess.PIPE, text=True, check=True, timeout=120,
    )
    return json.loads(proc.stdout.splitlines()[-1])


def _child(call: str) -> None:
    func, cache_dir, seed, size_type, size, *args = json.loads(call)
    size = {"EventSize": EventSize, "OfflineSize": OfflineSize}[size_type](**size)
    print(json.dumps({"event_batches": event_batches, "offline_tables": offline_tables}[func](cache_dir, seed, size, *args)))


def prune_cache(cache_dir: str, keep: int) -> None:
    """Keep the ``keep`` most recently used generated sets, drop the rest, so
    runs over many seeds do not fill the disk."""
    if not os.path.isdir(cache_dir):
        return
    entries = [os.path.join(cache_dir, n) for n in os.listdir(cache_dir)]
    entries = sorted((e for e in entries if os.path.isdir(e)), key=os.path.getmtime, reverse=True)
    for stale in entries[keep:]:
        shutil.rmtree(stale, ignore_errors=True)
