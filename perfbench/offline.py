"""``offline_batch`` workload: the batch consumers of the harness registry.

One pass runs five registry queries in a fixed order, each fully
materialised on the driver (``collect``), over seeded tables shaped like the
repository's test tables (TESTDATA.md). The pass runs in a fresh session,
as a batch job does.

After the timed region every result is compared with its query's
``oracle_sql()`` twin run by DuckDB over the same parquet files.
"""

from __future__ import annotations

import time
from contextlib import nullcontext
from typing import Any, Callable

import numpy as np

from . import check, gen
from .common import INPUTS, Ops, RssGrowth, describe

#: At a fifth of the event and order counts the pass is mostly JIT
#: compilation and per-job overhead, and its wall time varied by ±20% between
#: runs. Documents and embeddings stay small: the DuckDB oracles of the dedup
#: and semantic-dedup queries are quadratic, and at 1,600 documents and 1,200
#: vectors they took 9 s of every run.
SIZE = gen.OfflineSize(n_events=100_000, n_users=10_000, n_orders=150_000, n_docs=1_000, n_vectors=800)
TABLES = ["events", "orders", "documents", "embeddings"]
#: registry query → span name of the operator layer that does its work
QUERIES = {
    "training_set_pit": "operators.pit.training_set_pit",
    "dedup_survivors_docs": "operators.dedup.dedup_survivors_docs",
    "semantic_dedup_embeddings": "operators.similarity.semantic_dedup_embeddings",
    "cosine_topk_blas": "operators.similarity.cosine_topk_blas",
    "text_stats": "operators.text.text_stats",
}


def run_pass(spark: Any, data_dir: str, queries: dict[str, Any], span: Callable[[str], Any]) -> tuple[dict[str, float], dict[str, Any]]:
    """One pass: per-query wall times and results (columns and rows, or the
    exception the query raised)."""
    times, results = {}, {}
    for name, layer in QUERIES.items():
        q0 = time.perf_counter()
        try:
            with span(layer):
                with span("harness.build"):  # plan building and size probes
                    df = queries[name](spark, data_dir)
                rows = df.collect()
            results[name] = (df.columns, [tuple(r) for r in rows])
        except Exception as e:
            results[name] = e
        times[name] = time.perf_counter() - q0
    return times, results


def run(spark_factory: Callable[[], Any], *, run_dir: str, seed: int, seconds: float, recorder: Any) -> dict[str, Any]:
    """Set-up and one measured pass; the pass takes longer than the
    benchmark's ``--seconds``, which therefore sets no repeat count."""
    data_dir = gen.in_child("offline_tables", INPUTS, seed, SIZE)
    span = recorder.span if recorder else (lambda name: nullcontext())

    t0 = time.perf_counter()
    spark = spark_factory()
    from ml_feature_store_pipeline_spark.harness import oracle_registry, query_registry

    queries, oracles = query_registry(), oracle_registry()
    setup_s = time.perf_counter() - t0

    p0 = time.perf_counter()
    with RssGrowth() as rss:
        times, results = run_pass(spark, data_dir, queries, span)
    pass_s = time.perf_counter() - p0

    ops = Ops()
    con = check.connect()
    check.register_tables(con, data_dir, TABLES)
    digests = {}
    for name, out in results.items():
        if isinstance(out, Exception):
            ops.record(False, lambda: f"{name}: {describe(out)}")
            continue
        got = check.canonical_rows(*out)
        want = check.canonical_rows(*check.oracle_rows(con, oracles[name]))
        digests[name] = {"spark": check.digest(got), "oracle": check.digest(want), "rows": len(got)}
        ops.record(got == want, lambda: f"{name}: {len(got)} rows, digest {digests[name]['spark']} != oracle {len(want)} rows, digest {digests[name]['oracle']}")

    detail = {
        "setup_s": {"value": setup_s, "unit": "s", "n": 1},
        "offline_pass_s": {"value": pass_s, "unit": "s", "n": 1},
        "query_s": times,
        "driver_rss_growth_mb": {"value": rss.mb, "unit": "MB", "n": 1},
        "oracle_digests": digests,
    }
    metrics = {
        "setup_s": setup_s,
        "pass_s": pass_s,
        "request_gmean_ms": float(np.exp(np.mean(np.log(list(times.values()))))) * 1e3,
        "driver_rss_growth_mb": rss.mb,
    }
    return {"metrics": metrics, "detail": detail, "ops": ops, "spark": spark, "layer": {}}
