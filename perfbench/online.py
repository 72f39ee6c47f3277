"""``online`` workload: the feature store serving, then publishing.

Set-up starts the session and seeds a store ``SETUP_REPS`` times, each into
a fresh directory: register version 0 (extract → register), serve one user,
which builds the serving index, and probe the oversize handle's size cap.
The last store is the one measured. The measured pass then runs, on fixed,
seeded requests:

1. publish, then serve: extract → register on batch 1, then both clients
   call ``serve_features(uid)`` a fixed number of times. The first of those
   builds version 1's serving index.
2. retention: ``cleanup_old_versions(keep_n=1)`` drops version 0.
3. the serve mix on version 1, two closed-loop client threads:
   ``serve_pinned`` (``serve_features(uid, version=v)``), ``serve_latest``
   (``serve_features(uid)``), ``serve_oversize`` (a second store handle
   whose ``max_serving_index_rows`` is below the version's row count, so
   every lookup takes the pushed-filter path) and ``batch_get``
   (``get_features(v, user_ids=<100 ids>).collect()``). Keys are Zipf(1.1)
   over the user population plus 5% ids that exist in no version. It runs
   last, so the JVM has warmed up for longest.

No reads run while the publish or the retention runs. Run beside them, they
hit two program defects whose failures vary from run to run (see
``perfbench/README.md``).

Every served row is compared with DuckDB's expected row for its version; a
serve after the publish that returns version 0's row is stale and fails.
Both registered versions are read back and compared in full.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np
from ml_feature_store_pipeline_spark.schemas import CREATED_AT_COLUMN, VERSION_COLUMN

from . import check, gen
from .common import INPUTS, Ops, RssGrowth, Timing, describe

SIZE = gen.EventSize(n_events=100_000, n_users=10_000, zipf_a=1.1)
#: set-ups per run; ``setup_s`` takes their median
SETUP_REPS = 3
#: requests of the serve mix
MIX = {"serve_pinned": 1100, "serve_latest": 30, "serve_oversize": 12, "batch_get": 12}
CLIENTS = 2
#: retention keeps only version 1, so it drops version 0
KEEP_N = 1
OVERSIZE_CAP = 1_000
BATCH_IDS = 100
ABSENT_SHARE = 0.05
#: ``serve_features(uid)`` calls per client right after the publish
FRESH_SERVES = 8


@dataclass
class Publish:
    batch: int
    version: str = ""
    cycle_start: float = 0.0
    reg_start: float = 0.0
    reg_end: float = 0.0


def draw_keys(seed: int, stream: int, n: int) -> list[int]:
    """n seeded request keys: Zipf over user ranks, plus absent ids."""
    rng = np.random.default_rng([seed, 101, stream])
    perm = gen.user_permutation(seed, SIZE.n_users)
    ids = perm[rng.choice(SIZE.n_users, size=n, p=gen.zipf_probabilities(SIZE.n_users, SIZE.zipf_a))]
    # ids above the population exist in no batch
    absent = SIZE.n_users + 1 + rng.integers(0, SIZE.n_users, n)
    return [int(i) for i in np.where(rng.random(n) < ABSENT_SHARE, absent, ids)]


def served_row(row: Any) -> dict[str, Any]:
    """A stored feature row without the version stamps, as served."""
    return {k: v for k, v in row.asDict().items() if k not in (VERSION_COLUMN, CREATED_AT_COLUMN)}


def _run_clients(work: list[Callable[[], None]]) -> None:
    threads = [threading.Thread(target=w, name=f"client-{i}") for i, w in enumerate(work)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


class OnlineRun:
    def __init__(self, spark: Any, run_dir: str, seed: int, batch_dirs: list[str], recorder: Any) -> None:
        from ml_feature_store_pipeline_spark.extractors import UserEventExtractor

        self.spark = spark
        self.seed = seed
        self.batch_dirs = batch_dirs
        self.rec = recorder
        self.run_dir = run_dir
        self.extractor = UserEventExtractor(amount_col="value", timestamp_col="ts")
        self.store: Any = None
        self.oversize: Any = None
        self.publishes: list[Publish] = []  # of the current store
        self.cycles = 0  # publishes into every store, for the trace
        self.ops = Ops()
        self.t = {
            k: Timing()
            for k in ("serve_pinned", "serve_latest", "serve_oversize", "batch_get", "serve_after_publish")
        }
        self.serve_mix_s = 0.0
        self.serve_mix_ops = 0
        self.rows_returned = 0  # by batch_get and serve_oversize, for the trace
        self.lock = threading.Lock()
        con = check.connect()  # expected rows, before anything is timed
        self.expected = [check.expected_features(con, d) for d in batch_dirs]
        con.close()

    def span(self, name: str):
        return self.rec.span(name) if self.rec else nullcontext()

    # -------------------------------------------------------------- writes
    def seed_store(self, rep: int, rss: Any) -> None:
        """One set-up: a fresh store with version 0 published and its serving
        index built (inside ``rss``), and the oversize handle's size cap
        probed."""
        from ml_feature_store_pipeline_spark.store import FeatureStore

        path = os.path.join(self.run_dir, f"store{rep}")
        self.store = FeatureStore(self.spark, path)
        self.oversize = FeatureStore(self.spark, path, max_serving_index_rows=OVERSIZE_CAP)
        self.publishes = []
        first = self.publish()
        uid = draw_keys(self.seed, 0, 1)[0]
        with rss:
            self.store.serve_features(uid)  # builds the serving index
        self.oversize.serve_features(uid, version=first.version)

    def publish(self) -> Publish:
        from ml_feature_store_pipeline_spark.config import FeatureMetadata
        from ml_feature_store_pipeline_spark.sources.readers import read_table

        p = Publish(batch=len(self.publishes))
        with self.span("bench.publish_cycle"):
            p.cycle_start = time.perf_counter()
            events = read_table(self.spark, self.batch_dirs[p.batch], "events")
            features = self.extractor.extract(events)
            meta = FeatureMetadata(
                description=f"perfbench batch {p.batch}",
                features_config=self.extractor.get_feature_configs(),
            )
            p.reg_start = time.perf_counter()
            p.version = self.store.register_features(features, meta)
            p.reg_end = time.perf_counter()
        self.publishes.append(p)
        self.cycles += 1
        return p

    def verify(self, p: Publish) -> None:
        """Read back one registered version in full (outside timing)."""
        want = self.expected[p.batch]
        try:
            rows = self.store.get_features(p.version, use_cache=False).collect()
        except Exception as e:
            self.ops.record(False, lambda: f"read-back of batch {p.batch}: {describe(e)}")
            return
        got = {int(r["user_id"]): served_row(r) for r in rows}
        ok = len(rows) == len(got) and got.keys() == want.keys() and all(
            check.row_matches(got[u], w) for u, w in want.items()
        )
        self.ops.record(ok, lambda: f"register of batch {p.batch}: stored rows differ from expected")

    # -------------------------------------------------------------- reads
    def request(self, kind: str, call: Callable[[], Any], judge: Callable[[Any], bool]) -> Any:
        t0 = time.perf_counter()
        try:
            with self.span(f"bench.{kind}"):
                result = call()
        except Exception as e:
            result = e
        self.t[kind].add(time.perf_counter() - t0)
        try:
            ok = not isinstance(result, Exception) and judge(result)
        except Exception:  # a malformed result fails the judge
            ok = False
        self.ops.record(ok, lambda: f"{kind}: {describe(result) if isinstance(result, Exception) else repr(result)[:200]}")
        return result

    def serve_mix(self) -> None:
        version = self.publishes[-1].version
        want = self.expected[self.publishes[-1].batch]
        rng = np.random.default_rng([self.seed, 103])
        kinds = [kind for kind, n in MIX.items() for _ in range(n)]
        rng.shuffle(kinds)
        keys = iter(draw_keys(self.seed, 1000, len(kinds) * BATCH_IDS))
        plan = [(k, [next(keys) for _ in range(BATCH_IDS if k == "batch_get" else 1)]) for k in kinds]

        def batch_ok(ids: list[int], rows: list) -> bool:
            with self.lock:
                self.rows_returned += len(rows)
            got = {int(r["user_id"]): served_row(r) for r in rows}
            expect_ids = {u for u in ids if u in want}
            return len(rows) == len(got) and got.keys() == expect_ids and all(
                check.row_matches(got[u], want[u]) for u in expect_ids
            )

        def oversize_ok(uid: int, row: dict) -> bool:
            with self.lock:
                self.rows_returned += bool(row)
            return check.row_matches(row, want.get(uid))

        def one(kind: str, ids: list[int]) -> None:
            uid = ids[0]
            if kind == "serve_pinned":
                self.request(kind, lambda: self.store.serve_features(uid, version=version), lambda r: check.row_matches(r, want.get(uid)))
            elif kind == "serve_latest":
                self.request(kind, lambda: self.store.serve_features(uid), lambda r: check.row_matches(r, want.get(uid)))
            elif kind == "serve_oversize":
                self.request(kind, lambda: self.oversize.serve_features(uid, version=version), lambda r: oversize_ok(uid, r))
            else:
                self.request(kind, lambda: self.store.get_features(version, user_ids=ids).collect(), lambda r: batch_ok(ids, r))

        t0 = time.perf_counter()
        _run_clients([lambda c=c: [one(k, ids) for k, ids in plan[c::CLIENTS]] for c in range(CLIENTS)])
        self.serve_mix_s = time.perf_counter() - t0
        self.serve_mix_ops = len(plan)

    def publish_then_serve(self) -> list[tuple[float, int, Any]]:
        """Publish batch 1, then let both clients serve; returns every serve
        as (end time, user id, result or exception), judged afterwards."""
        try:
            self.publish()
            self.ops.record(True)
        except Exception as e:
            self.ops.record(False, lambda: f"publish: {describe(e)}")
            return []
        serves: list[tuple[float, int, Any]] = []
        lock = threading.Lock()
        streams = [draw_keys(self.seed, 2000 + s, FRESH_SERVES) for s in range(CLIENTS)]

        def reader(stream: int) -> None:
            for uid in streams[stream]:
                t0 = time.perf_counter()
                try:
                    with self.span("bench.serve_latest"):
                        r = self.store.serve_features(uid)
                except Exception as e:
                    r = e
                t1 = time.perf_counter()
                self.t["serve_after_publish"].add(t1 - t0)
                with lock:
                    serves.append((t1, uid, r))

        _run_clients([lambda s=s: reader(s) for s in range(CLIENTS)])
        return serves

    def judge_fresh_serves(self, serves: list[tuple[float, int, Any]]) -> float | None:
        """Every serve after the publish must return version 1's row; returns
        publish-to-serve time, to the first serve whose row only version 1
        has."""
        if len(self.publishes) < 2:
            return None
        old, new = self.expected[0], self.expected[1]
        seen: float | None = None
        for t1, uid, r in serves:
            if isinstance(r, Exception):
                self.ops.record(False, lambda: f"serve_latest after publish: {describe(r)}")
            elif check.row_matches(r, new.get(uid)):
                self.ops.record(True)
                if not check.row_matches(r, old.get(uid)):
                    seen = t1 if seen is None else min(seen, t1)
            elif check.row_matches(r, old.get(uid)):
                self.ops.record(False, lambda: f"stale serve: user {uid} got version 0 after version 1 was published")
            else:
                self.ops.record(False, lambda: f"serve_latest after publish: user {uid} matches no version")
        if seen is None:
            self.ops.record(False, lambda: "version 1 never observed by a reader")
            return None
        return seen - self.publishes[1].reg_start


def run(spark_factory: Callable[[], Any], *, run_dir: str, seed: int, seconds: float, recorder: Any) -> dict[str, Any]:
    """Set-up and one measured pass; the pass takes longer than the
    benchmark's ``--seconds``, which therefore sets no repeat count."""
    batch_dirs = gen.in_child("event_batches", INPUTS, seed, SIZE, 2)

    t0 = time.perf_counter()
    spark = spark_factory()
    t_session = time.perf_counter() - t0
    r = OnlineRun(spark, run_dir, seed, batch_dirs, recorder)
    rss = RssGrowth()  # what the serving index costs the driver, at its first build
    seed_s = []
    for rep in range(SETUP_REPS):
        t1 = time.perf_counter()
        r.seed_store(rep, rss if rep == 0 else nullcontext())
        seed_s.append(time.perf_counter() - t1)
    setup_s = t_session + statistics.median(seed_s)
    r.verify(r.publishes[0])

    p0 = time.perf_counter()
    serves = r.publish_then_serve()
    c0 = time.perf_counter()
    try:
        r.store.cleanup_old_versions(keep_n=KEEP_N)
        r.ops.record(True)
    except Exception as e:
        r.ops.record(False, lambda: f"cleanup: {describe(e)}")
    cleanup_s = time.perf_counter() - c0
    r.serve_mix()
    pass_s = time.perf_counter() - p0
    publish_to_serve = r.judge_fresh_serves(serves)
    if len(r.publishes) > 1:
        r.verify(r.publishes[1])

    t = r.t
    last = r.publishes[-1]
    live_rows = len(r.expected[last.batch])
    store_bytes = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(r.store.features_path) for f in files
    )
    # median latency of each read-only request kind that runs Spark jobs
    engine = [float(np.median(t[k].samples)) for k in ("serve_latest", "serve_oversize", "batch_get")]
    published = len(r.publishes) > 1
    detail = {
        "setup_s": {"value": setup_s, "unit": "s", "n": SETUP_REPS, "session_s": t_session, "seed_s": seed_s},
        "register_s": {"value": last.reg_end - last.reg_start, "unit": "s", "n": int(published)},
        "cleanup_s": {"value": cleanup_s, "unit": "s", "n": 1},
        # a publish cycle is extract → register → retention
        "versions_per_min": {"value": 60.0 / (last.reg_end - last.cycle_start + cleanup_s), "unit": "1/min", "n": int(published)},
        "publish_to_serve_s": {"value": publish_to_serve, "unit": "s", "n": int(publish_to_serve is not None)},
        "serve_pinned_us": t["serve_pinned"].stats(1e6, "us", (0.99,)),
        "serve_latest_ms": t["serve_latest"].stats(1e3, "ms"),
        "serve_after_publish_ms": t["serve_after_publish"].stats(1e3, "ms"),
        "serve_oversize_ms": t["serve_oversize"].stats(1e3, "ms"),
        "batch_get_ms": t["batch_get"].stats(1e3, "ms"),
        "serve_ops_per_s": {"value": r.serve_mix_ops / r.serve_mix_s, "unit": "1/s", "n": r.serve_mix_ops},
        "store_bytes_per_row": {"value": store_bytes / max(live_rows, 1), "unit": "B", "n": live_rows},
        "driver_rss_growth_mb": {"value": rss.mb, "unit": "MB", "n": 1},
    }
    metrics = {
        "setup_s": setup_s,
        "pass_s": pass_s,
        "request_gmean_ms": float(np.exp(np.mean(np.log(engine)))) * 1e3,
        "driver_rss_growth_mb": rss.mb,
    }
    return {"metrics": metrics, "detail": detail, "ops": r.ops, "spark": spark, "layer": _layer_inputs(r)}


def _layer_inputs(r: OnlineRun) -> dict[str, Any]:
    """Workload-side figures the per-layer table needs."""
    root = r.store.features_path
    files = [
        sum(1 for f in os.listdir(os.path.join(root, d)) if f.endswith(".parquet"))
        for d in os.listdir(root)
        if d.startswith("feature_version=")
    ]
    return {
        "publish_cycles": r.cycles,
        "files_per_version": float(np.median(files)) if files else 0.0,
        "rows_returned": r.rows_returned,
        "cache_info": r.store.cache.info(),
    }
