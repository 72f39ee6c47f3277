"""Store lifecycle round-trip tests (SURVEY §5.3): register → get → serve →
metadata → list → cleanup; cache behavior; version-hash determinism (§5.4)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from ml_feature_store_pipeline_spark.config import FeatureMetadata
from ml_feature_store_pipeline_spark.extractors import UserEventExtractor
from ml_feature_store_pipeline_spark.store import FeatureStore
from ml_feature_store_pipeline_spark.versioning import content_version


@pytest.fixture()
def store(spark, tmp_path):
    return FeatureStore(spark, str(tmp_path / "fs"))


@pytest.fixture()
def features(events_frame):
    return UserEventExtractor().extract(events_frame)


def _meta(desc="test features"):
    return FeatureMetadata(description=desc, lineage={"source": "unit-test"}, tags=["t1"])


def test_register_get_roundtrip(store, features):
    version = store.register_features(features, _meta())
    assert len(version) == 32  # md5 hex
    out = store.get_features(version)
    assert out.count() == 5
    # stamped columns present; feature columns intact
    assert "feature_version" in out.columns and "created_at" in out.columns
    got = {r["user_id"]: r["total_events"] for r in out.collect()}
    assert got[1] == 3


def test_get_latest_resolves_newest(store, features):
    v1 = store.register_features(features, _meta("v1"))
    more = features.withColumn("total_amount", F.col("total_amount") + 1.0)
    v2 = store.register_features(more, _meta("v2"))
    assert v1 != v2
    latest = store.get_features()  # no version → latest by created_at
    assert latest.select("feature_version").distinct().collect()[0][0] == v2


def test_user_filter_pushdown(store, features):
    version = store.register_features(features, _meta())
    two = store.get_features(version, user_ids=[1, 3])
    assert sorted(r["user_id"] for r in two.collect()) == [1, 3]


def test_serving_path(store, features):
    store.register_features(features, _meta())
    d = store.serve_features(1)
    assert d["total_events"] == 3
    assert "feature_version" not in d and "created_at" not in d  # B5 drop
    assert store.serve_features(99999) == {}  # unknown entity → {} (`:434-435`)
    # second lookup is a cache hit (no new Spark job needed)
    info_before = store.cache.info()
    store.serve_features(2)
    assert store.cache.info()["hits"] >= info_before["hits"] + 1


def test_serving_size_guard_falls_back_to_pushed_filter(spark, tmp_path, features):
    # Threshold forced below the version size: the driver index must never be
    # built; lookups go through the pushed-filter path and return the SAME
    # dicts the collected index would.
    big = FeatureStore(spark, str(tmp_path / "fs_big"), max_serving_index_rows=2)
    small = FeatureStore(spark, str(tmp_path / "fs_small"))  # default: indexes fine
    big.register_features(features, _meta())
    small.register_features(features, _meta())
    for uid in (1, 2, 99999):
        assert big.serve_features(uid) == small.serve_features(uid)
    # the oversized decision is cached — no index ever appears under the hood
    assert all("_serving_index" not in k or "_too_big" in k
               for k in getattr(big.cache, "_data", {}))


def test_metadata_roundtrip(store, features):
    meta = _meta("metadata round trip")
    meta.tags = ["a", "b"]
    version = store.register_features(features, meta)
    back = store.get_feature_metadata(version)
    assert back is not None
    assert back.description == "metadata round trip"
    assert back.lineage == {"source": "unit-test"}
    assert back.tags == ["a", "b"]
    assert back.data_quality_metrics is not None
    assert 0.0 <= back.data_quality_metrics.overall_score <= 1.0
    assert store.get_feature_metadata("nonexistent") is None


def test_list_versions_newest_first(store, features):
    store.register_features(features, _meta("first"))
    store.register_features(
        features.withColumn("total_amount", F.col("total_amount") * 2), _meta("second")
    )
    listing = store.list_feature_versions()
    assert [v["description"] for v in listing] == ["second", "first"]
    assert all("quality_score" in v for v in listing)


def test_cleanup_keeps_newest_n(store, features):
    versions = []
    for i in range(4):
        df = features.withColumn("total_amount", F.col("total_amount") + i)
        versions.append(store.register_features(df, _meta(f"v{i}")))
    doomed = store.cleanup_old_versions(keep_n=2)
    assert set(doomed) == set(versions[:2])
    remaining = [v["feature_version"] for v in store.list_feature_versions()]
    assert remaining == [versions[3], versions[2]]
    # physical partition dirs gone
    for v in doomed:
        assert not os.path.isdir(os.path.join(store.features_path, f"feature_version={v}"))
    # surviving data still readable
    assert store.get_features(versions[3]).count() == 5


def test_version_hash_order_insensitive(spark, features):
    """§5.4 determinism: repartition/shuffle must not change the version id —
    a stronger guarantee than the reference's row-order-sensitive md5 (H1)."""
    v_a = content_version(features)
    v_b = content_version(features.repartition(7))
    v_c = content_version(features.orderBy(F.desc("user_id")))
    assert v_a == v_b == v_c
    changed = features.withColumn("total_amount", F.col("total_amount") + 0.001)
    assert content_version(changed) != v_a


def test_register_identical_content_is_idempotent_version(store, features):
    v1 = store.register_features(features, _meta("one"))
    v2 = store.register_features(features, _meta("two"))
    assert v1 == v2  # content-addressed: same content ⇒ same id
    # the committed rows are not appended a second time
    assert store.get_features(v1).count() == 5
    # the re-registration's upsert still makes its version latest again
    vb = store.register_features(
        features.withColumn("total_amount", F.col("total_amount") + 1.0), _meta("b")
    )
    assert store.latest_version() == vb
    assert store.register_features(features, _meta("three")) == v1
    assert store.latest_version() == v1
    assert store.get_features(v1).count() == 5
    assert [v["description"] for v in store.list_feature_versions()] == ["three", "b"]


def test_dashboard_shape(store, features):
    store.register_features(features, _meta())
    store.serve_features(1)
    dash = store.get_monitoring_dashboard()
    assert set(dash) == {"metrics", "alerts", "cache_info", "store_path", "partitions"}
    assert dash["metrics"]["total_creations"] == 1
    assert len(dash["partitions"]) == 1


def test_register_enforces_declared_schema(store, features):
    """SURVEY §1.3: declared configs are validated against the actual schema —
    strictly more checking than the reference's trusted inserts."""
    from ml_feature_store_pipeline_spark.config import FeatureConfig

    meta = _meta("schema check")
    meta.features_config = [
        FeatureConfig("total_events", "int64"),
        FeatureConfig("no_such_column", "float64"),
    ]
    with pytest.raises(ValueError, match="no_such_column"):
        store.register_features(features, meta)
    # wrong dtype also rejected
    meta.features_config = [FeatureConfig("total_events", "float64")]
    with pytest.raises(ValueError, match="total_events"):
        store.register_features(features, meta)
    # matching declaration (or opting out) registers fine
    meta.features_config = [FeatureConfig("total_events", "int64")]
    assert store.register_features(features, meta)
    meta.features_config = [FeatureConfig("no_such_column", "float64")]
    assert store.register_features(features, meta, enforce_schema=False)


def test_yaml_config_roundtrip(tmp_path):
    """A10: create_advanced_config writes the reference's YAML shape and
    load_config reads it back structurally intact."""
    from ml_feature_store_pipeline_spark.config import create_advanced_config, load_config

    p = str(tmp_path / "cfg.yaml")
    written = create_advanced_config(p)
    assert written == p
    cfg = load_config(p)
    assert isinstance(cfg, dict) and cfg
    # the reference's documented knobs survive the round-trip
    flat = str(cfg)
    assert "cache" in flat and "quality" in flat


def test_compact_partition_merges_small_files(spark, tmp_path):
    from ml_feature_store_pipeline_spark.sources.writers import compact_partition

    path = str(tmp_path / "v1")
    spark.range(10_000).selectExpr("id", "id * 2 AS x").repartition(40).write.parquet(path)
    import os

    before = [n for n in os.listdir(path) if n.endswith(".parquet")]
    assert len(before) == 40
    data_before = sorted(r["id"] for r in spark.read.parquet(path).collect())

    res = compact_partition(spark, path, target_file_bytes=64 * 1024 * 1024)
    assert res["compacted"] and res["files_before"] == 40
    after = [n for n in os.listdir(path) if n.endswith(".parquet")]
    assert len(after) == res["files_after"] < 40
    # data survives byte-for-byte (same ids, same projection)
    assert sorted(r["id"] for r in spark.read.parquet(path).collect()) == data_before

    # idempotent: second run is a no-op
    res2 = compact_partition(spark, path, target_file_bytes=64 * 1024 * 1024)
    assert not res2["compacted"]


# ---------------------------------------------------------------- J4: disk cache
def test_disk_cache_roundtrip_and_expiry(tmp_path):
    import time as _time

    from ml_feature_store_pipeline_spark.cache import DiskTTLCache

    c = DiskTTLCache(str(tmp_path / "spool"))
    assert c.get("k") is None  # miss on empty
    c.set("k", {"a": [1, 2, 3]}, ttl=3600)
    assert c.get("k") == {"a": [1, 2, 3]}
    # expiry is lazy-on-get, like the in-memory backend
    c.set("gone", "x", ttl=0)
    _time.sleep(0.01)
    assert c.get("gone") is None
    info = c.info()
    assert info["entries"] == 1 and info["hits"] == 1 and info["misses"] >= 2


def test_disk_cache_survives_reopen_and_prefix_delete(tmp_path):
    from ml_feature_store_pipeline_spark.cache import DiskTTLCache, cache_key

    spool = str(tmp_path / "spool")
    c1 = DiskTTLCache(spool)
    c1.set(cache_key("v1") + "_serving_index", {1: {"f": 2}})
    c1.set(cache_key("v1") + "_too_big", True)
    c1.set(cache_key("v2"), "keep")

    # a fresh instance (new driver process) sees durable entries
    c2 = DiskTTLCache(spool)
    assert c2.get(cache_key("v1") + "_serving_index") == {1: {"f": 2}}
    # version cleanup drops exactly the v1 keys
    assert c2.delete_prefix(cache_key("v1")) == 2
    assert c2.get(cache_key("v1") + "_too_big") is None
    assert c2.get(cache_key("v2")) == "keep"
    c2.clear()
    assert c2.info()["entries"] == 0


def test_store_with_disk_cache_serves_and_cleans(spark, tmp_path, features):
    from ml_feature_store_pipeline_spark.cache import DiskTTLCache

    cache = DiskTTLCache(str(tmp_path / "spool"))
    store = FeatureStore(spark, str(tmp_path / "fs"), cache=cache)
    store.register_features(features, _meta("v1"))
    assert store.serve_features(1)["total_events"] == 3
    info_before = store.cache.info()
    store.serve_features(2)  # second lookup hits the durable index
    assert store.cache.info()["hits"] >= info_before["hits"] + 1

    # cleanup path invalidates via duck-typed delete_prefix
    more = features.withColumn("total_amount", F.col("total_amount") + 1.0)
    store.register_features(more, _meta("v2"))
    store.cleanup_old_versions(keep_n=1)
    assert store.cache.info()["entries"] < info_before["entries"] + 2


def test_time_travel_read(spark, tmp_path, features):
    import time as _time

    store = FeatureStore(spark, str(tmp_path / "fs"))
    v1 = store.register_features(features, _meta("v1"))
    between = store.get_feature_metadata(v1).created_at
    _time.sleep(1.1)  # created_at has second resolution
    more = features.withColumn("total_amount", F.col("total_amount") + 1.0)
    v2 = store.register_features(more, _meta("v2"))

    # as-of between the two registrations resolves v1; now resolves v2
    assert store.version_as_of(between) == v1
    got = store.get_features(as_of=between)
    assert got.select("feature_version").distinct().collect()[0][0] == v1
    assert store.get_features().select("feature_version").distinct().collect()[0][0] == v2
    # before any version: explicit error, not silent latest
    with pytest.raises(ValueError):
        store.get_features(as_of="1970-01-01T00:00:00")
    with pytest.raises(ValueError):
        store.get_features(version=v1, as_of=between)


def test_merge_features_creates_corrected_version(store, features):
    v1 = store.register_features(features, _meta("base"))
    base = store.get_features(v1)
    # correction batch: fix user 1's total_amount, drop user 2, add user 99
    row1 = base.filter(F.col("user_id") == 1).drop("feature_version", "created_at")
    changes = (
        row1.withColumn("total_amount", F.lit(123.45))
        .withColumn("op", F.lit("upsert"))
        .unionByName(
            base.filter(F.col("user_id") == 2)
            .drop("feature_version", "created_at")
            .withColumn("op", F.lit("delete"))
        )
        .unionByName(
            row1.withColumn("user_id", F.lit(99)).withColumn("op", F.lit("upsert"))
        )
    )
    v2 = store.merge_features(changes, base_version=v1)
    assert v2 != v1

    merged = {r["user_id"]: r["total_amount"] for r in store.get_features(v2).collect()}
    assert merged[1] == 123.45
    assert merged[99] == 40.0  # inserted row carries user 1's ORIGINAL amount
    assert 2 not in merged
    # untouched users carried over; base version still intact
    assert set(merged) == ({r["user_id"] for r in base.collect()} - {2}) | {99}
    assert store.get_features(v1).count() == 5
    # lineage records the derivation
    meta = store.get_feature_metadata(v2)
    assert meta.lineage["base_version"] == v1
    assert meta.lineage["derived_by"] == "cdc_merge"
    # latest now resolves to the corrected version
    assert store.latest_version() == v2


def test_diff_versions_recovers_the_correction(store, features):
    v1 = store.register_features(features, _meta("base"))
    row1 = (
        store.get_features(v1).filter(F.col("user_id") == 1)
        .drop("feature_version", "created_at")
    )
    changes = row1.withColumn("total_amount", F.lit(77.0)).withColumn("op", F.lit("upsert"))
    v2 = store.merge_features(changes, base_version=v1)
    diff = store.diff_versions(v1, v2).collect()
    assert len(diff) == 1
    assert diff[0]["user_id"] == 1 and diff[0]["op"] == "upsert"
    assert diff[0]["total_amount"] == 77.0


def test_serving_parity_audit(spark, tmp_path):
    """r5: the online/offline consistency audit passes on a healthy store,
    checks a bounded deterministic sample, and catches a poisoned cache."""
    store = FeatureStore(spark, str(tmp_path / "fs_parity"))
    df = spark.createDataFrame(
        [(i, float(i) * 2, f"u{i}") for i in range(25)],
        "user_id long, spend double, tag string",
    )
    version = store.register_features(df, _meta("parity check fixture"))

    report = store.validate_serving_parity(version, sample_size=10)
    assert report["version"] == version
    assert report["checked"] == 10
    assert report["mismatches"] == []

    # poison the serving index for one sampled user: the audit must flag it
    from ml_feature_store_pipeline_spark.cache import cache_key

    key = cache_key(version) + "_serving_index"
    index = store.cache.get(key)
    assert index, "serving path should have built the cached index"
    victim = sorted(index)[0]
    index[victim] = {**index[victim], "spend": -1.0}
    store.cache.set(key, index)
    # resample the SAME deterministic keys; only flag if victim is sampled
    report2 = store.validate_serving_parity(version, sample_size=25)
    assert victim in report2["mismatches"]


def test_serving_parity_audit_detects_stale_cache_epoch(spark, tmp_path):
    """r7 verdict item 7 — the stale-cache epoch. The reference's TTL
    cache serves a version's frames for up to 3600 s after a NEWER
    version registers (reference `ML Feature Store Pipeline.py:350,412`:
    cached reads are keyed without latest-resolution and expire only by
    TTL). This store's staleness SLA is ZERO for latest-serving: the
    serving index is VERSION-scoped and latest_version() is never
    cached, so a new registration is served immediately even while the
    old version's index is live in the cache. Prove the SLA, then
    simulate the reference's failure mode (the old index smuggled under
    the new version's key — what any non-version-scoped cache does) and
    show the parity audit detects and quantifies that epoch."""
    from ml_feature_store_pipeline_spark.cache import cache_key

    store = FeatureStore(spark, str(tmp_path / "fs_stale"))
    df1 = spark.createDataFrame(
        [(i, float(i) + 1.0) for i in range(20)], "user_id long, spend double"
    )
    v1 = store.register_features(df1, _meta("epoch v1"))
    assert store.serve_features(3)["spend"] == 4.0  # builds + caches v1 index

    df2 = spark.createDataFrame(
        [(i, (float(i) + 1.0) * 10) for i in range(20)], "user_id long, spend double"
    )
    v2 = store.register_features(df2, _meta("epoch v2"))

    # zero-staleness SLA: latest serving reflects v2 IMMEDIATELY, even
    # though v1's index is still live in the cache (TTL 3600 untouched)
    assert store.serve_features(3)["spend"] == 40.0
    assert store.cache.get(cache_key(v1) + "_serving_index") is not None
    report = store.validate_serving_parity(sample_size=10)  # audits latest
    assert report["version"] == v2 and report["mismatches"] == []

    # the reference's stale epoch, reproduced: v1 bytes under v2's key
    stale = store.cache.get(cache_key(v1) + "_serving_index")
    store.cache.set(cache_key(v2) + "_serving_index", stale)
    report2 = store.validate_serving_parity(sample_size=20)
    # every sampled entity serves version-v1 bytes → the audit quantifies
    # the epoch as a full-sample mismatch, not a silent pass
    assert report2["version"] == v2
    assert len(report2["mismatches"]) == report2["checked"] == 20


def test_reused_metadata_object_does_not_freeze_latest_version(spark, tmp_path):
    """r9 demo-caught bug: register_features stamped created_at by MUTATING
    the caller's FeatureMetadata, so a reused object carried the FIRST
    registration's timestamp into every later call and latest_version()
    could keep resolving to the superseded version — the staleness mode
    this store claims a zero window for. The caller's object must stay
    unmutated and each implicit stamp must be per-registration."""
    from ml_feature_store_pipeline_spark.config import FeatureMetadata
    from ml_feature_store_pipeline_spark.store import FeatureStore

    store = FeatureStore(spark, str(tmp_path / "store"))
    meta = FeatureMetadata(description="reused across registrations")
    f1 = spark.createDataFrame([(1, 10.0)], "user_id long, x double")
    f2 = spark.createDataFrame([(1, 99.0), (2, 7.0)], "user_id long, x double")
    v1 = store.register_features(f1, meta)
    v2 = store.register_features(f2, meta)
    assert v1 != v2
    # the caller's object was not mutated by either call
    assert meta.feature_version == "" and meta.created_at == ""
    assert store.latest_version() == v2
    # and the serving path reflects v2 immediately (zero-staleness SLA)
    assert store.serve_features(1)["x"] == 99.0
    # stored stamps are per-registration, strictly ordered
    rows = {r["feature_version"]: r["created_at"] for r in store.list_feature_versions()}
    assert rows[v2] >= rows[v1]


def test_backfill_created_at_stamps_rows_and_metadata_identically(spark, tmp_path):
    """r9 review: an explicitly pre-set (backfill) created_at was honored
    by the metadata copy but the feature ROWS got fresh wall-clock stamps,
    so version_as_of() time-traveled to rows self-describing a different
    creation time. One stamp must serve both."""
    from ml_feature_store_pipeline_spark.config import FeatureMetadata
    from ml_feature_store_pipeline_spark.store import FeatureStore

    store = FeatureStore(spark, str(tmp_path / "store"))
    back = "2023-06-01T00:00:00"
    v = store.register_features(
        spark.createDataFrame([(1, 5.0)], "user_id long, x double"),
        FeatureMetadata(description="backfill", created_at=back),
    )
    meta_stamp = {
        r["feature_version"]: r["created_at"] for r in store.list_feature_versions()
    }[v]
    assert meta_stamp == back
    rows = store.get_features(v, use_cache=False).collect()
    # get_features drops bookkeeping columns in some paths; read raw
    raw = spark.read.parquet(str(tmp_path / "store" / "features")).filter(
        f"feature_version = '{v}'"
    ).collect()
    assert {r["created_at"] for r in raw} == {back}
    assert store.version_as_of("2023-07-01T00:00:00") == v


def test_serves_during_publish_never_raise_or_go_stale(spark, tmp_path):
    """Serving beside a publish: two threads serve latest on the writing
    handle and a second handle resolves latest while a third thread
    registers a new version. No call may raise (a Spark read racing the
    directory swap raises FileNotFoundException), and no call that starts
    after the register returns may see the old version — on the second
    handle that holds through invalidation by the metadata directory's
    identity."""
    import sys
    import threading
    import time as _time

    path = str(tmp_path / "fs_race")
    store = FeatureStore(spark, path)
    other = FeatureStore(spark, path)
    ids = range(40)
    df1 = spark.createDataFrame([(i, float(i)) for i in ids], "user_id long, x double")
    df2 = spark.createDataFrame([(i, i + 1000.0) for i in ids], "user_id long, x double")
    v1 = store.register_features(df1, _meta("race v1"))
    assert store.serve_features(3)["x"] == 3.0
    assert other.latest_version() == v1  # warms the second handle's catalog

    published = threading.Event()
    deadline = _time.monotonic() + 120
    errors: list[Exception] = []
    wrong: list[str] = []
    post_calls: list[tuple[str, int]] = []
    v2: list[str] = []

    def serve(uid: int) -> None:
        post = 0
        while post < 10 and _time.monotonic() < deadline:
            after = published.is_set()
            try:
                x = store.serve_features(uid)["x"]
            except Exception as e:  # any raise fails the test
                errors.append(e)
                return
            if after:
                post += 1
                if x != uid + 1000.0:
                    wrong.append(f"stale serve of user {uid} after the publish: {x}")
            elif x not in (float(uid), uid + 1000.0):
                wrong.append(f"user {uid} matches no version: {x}")
        post_calls.append(("serve", post))

    def resolve_other() -> None:
        post = 0
        while post < 5 and _time.monotonic() < deadline:
            after = published.is_set()
            try:
                got = other.latest_version()
            except Exception as e:
                errors.append(e)
                return
            if after:
                post += 1
                if got != v2[0]:
                    wrong.append(f"second handle resolved {got} after the publish")
        post_calls.append(("other", post))

    def publish() -> None:
        try:
            v2.append(store.register_features(df2, _meta("race v2")))
        except Exception as e:
            errors.append(e)
        finally:
            published.set()

    threads = [threading.Thread(target=serve, args=(u,)) for u in (3, 7)]
    threads += [threading.Thread(target=resolve_other), threading.Thread(target=publish)]
    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=150)
    finally:
        sys.setswitchinterval(old_interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == [] and wrong == []
    assert sorted(post_calls) == [("other", 5), ("serve", 10), ("serve", 10)]
    assert v2[0] != v1 and store.latest_version() == v2[0]
    # a third handle opened now reads the same table from disk
    assert FeatureStore(spark, path).list_feature_versions() == store.list_feature_versions()


def test_warm_metadata_reads_start_no_spark_job(spark, store, features):
    """The hot path runs no Spark job: on a warm handle, resolving latest,
    serving index hits, listing versions and reading a version's metadata
    are all answered from driver memory."""
    import uuid

    v = store.register_features(features, _meta())
    assert store.serve_features(1)["total_events"] == 3  # builds the serving index
    sc = spark.sparkContext
    group = f"catalog-guard-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "warm metadata reads must run no job")
    try:
        for _ in range(50):
            assert store.latest_version() == v
        for i in range(50):
            assert store.serve_features(1 + i % 5)["user_id"] == 1 + i % 5
        assert [r["feature_version"] for r in store.list_feature_versions()] == [v]
        assert store.get_feature_metadata(v).description == "test features"
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        spark.range(3).count()  # control: a job under the group is seen
        control = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == []
    assert len(control) >= 1


def test_cleanup_retires_metadata_before_dropping_files(spark, tmp_path, features, monkeypatch):
    """Retention writes the kept metadata and evicts the cache BEFORE it
    drops partition directories, so no resolution — on this handle or a
    fresh one reading the directory — returns a version whose files are
    being deleted; afterwards, a timestamp inside a dropped version's
    lifetime resolves to nothing."""
    from ml_feature_store_pipeline_spark import store as store_mod
    from ml_feature_store_pipeline_spark.cache import cache_key

    path = str(tmp_path / "fs_retire")
    store = FeatureStore(spark, path)
    stamps = ["2024-01-01T00:00:00", "2024-02-01T00:00:00", "2024-03-01T00:00:00"]
    versions = [
        store.register_features(
            features.withColumn("total_amount", F.col("total_amount") + i),
            FeatureMetadata(description=f"m{i}", created_at=stamp),
        )
        for i, stamp in enumerate(stamps)
    ]
    store.serve_features(1, version=versions[0])  # a cached index to evict
    inside_dropped = "2024-01-15T00:00:00"
    assert store.version_as_of(inside_dropped) == versions[0]

    seen = {}
    real_drop = store_mod.drop_partition_dirs

    def drop_spy(store_path, col, values):
        seen["values"] = list(values)
        seen["as_of"] = store.version_as_of(inside_dropped)
        seen["as_of_fresh"] = FeatureStore(spark, path).version_as_of(inside_dropped)
        seen["meta"] = [store.get_feature_metadata(v) for v in values]
        seen["cached"] = store.cache.get(cache_key(versions[0]) + "_serving_index")
        return real_drop(store_path, col, values)

    monkeypatch.setattr(store_mod, "drop_partition_dirs", drop_spy)
    doomed = store.cleanup_old_versions(keep_n=1)
    assert set(doomed) == set(versions[:2]) == set(seen["values"])
    assert seen["as_of"] is None and seen["as_of_fresh"] is None
    assert seen["meta"] == [None, None] and seen["cached"] is None
    assert store.version_as_of(inside_dropped) is None
    assert store.version_as_of("2024-02-15T00:00:00") is None
    assert store.version_as_of("2024-03-15T00:00:00") == versions[2]


def test_register_leaves_caller_persisted_frame_cached(store):
    """register_features pins an unpersisted input for its own duration
    only, and never changes or evicts a frame the caller persisted."""
    from pyspark import StorageLevel

    spark = store.spark
    mine = spark.createDataFrame([(1, 1.0), (2, 2.0)], "user_id long, x double")
    mine.persist(StorageLevel.MEMORY_ONLY)
    try:
        mine.count()
        store.register_features(mine, _meta("caller-persisted"))
        assert mine.storageLevel == StorageLevel.MEMORY_ONLY
    finally:
        mine.unpersist()
    plain = spark.createDataFrame([(1, 5.0)], "user_id long, x double")
    store.register_features(plain, _meta("plain"))
    assert plain.storageLevel == StorageLevel.NONE


def test_concurrent_writers_on_two_handles_lose_no_commit(spark, tmp_path):
    """Two handles on one path publish at the same time: every commit lands
    in the log, so both handles and a fresh one list all 8 versions, and a
    retention from a third handle leaves the 2 newest on all of them."""
    import sys
    import threading

    path = str(tmp_path / "fs_writers")
    handles = [FeatureStore(spark, path), FeatureStore(spark, path)]
    frames = [
        [
            spark.createDataFrame(
                [(u, float(100 * h + 10 * i + u)) for u in range(4)], "user_id long, x double"
            )
            for i in range(4)
        ]
        for h in range(2)
    ]
    rounds = threading.Barrier(2, timeout=120)
    published: list[str] = []
    errors: list[Exception] = []

    def publish(h: int) -> None:
        try:
            for i, df in enumerate(frames[h]):
                rounds.wait()  # both handles commit in the same round
                published.append(handles[h].register_features(df, _meta(f"h{h} v{i}")))
        except Exception as e:  # any raise fails the test
            errors.append(e)
            rounds.abort()

    threads = [threading.Thread(target=publish, args=(h,)) for h in range(2)]
    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old_interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == [] and len(set(published)) == 8

    listings = [
        [v["feature_version"] for v in s.list_feature_versions()]
        for s in (*handles, FeatureStore(spark, path))
    ]
    assert sorted(listings[0]) == sorted(published)
    assert listings[1] == listings[0] and listings[2] == listings[0]

    doomed = FeatureStore(spark, path).cleanup_old_versions(keep_n=2)
    assert sorted(doomed) == sorted(listings[0][2:])
    for s in (*handles, FeatureStore(spark, path)):
        assert [v["feature_version"] for v in s.list_feature_versions()] == listings[0][:2]
        assert s.latest_version() == listings[0][0]


def test_open_refuses_a_parquet_metadata_table(spark, tmp_path):
    """A store whose metadata is a ``feature_metadata/`` table and not a
    commit log must not open as an empty store."""
    path = tmp_path / "fs_old"
    (path / "feature_metadata").mkdir(parents=True)
    with pytest.raises(ValueError, match="feature_metadata"):
        FeatureStore(spark, str(path))


def test_concurrent_access_counts_lose_no_increment():
    """Serving threads share one monitor: every access is counted."""
    import sys
    import threading

    from ml_feature_store_pipeline_spark.monitor import FeatureMonitor

    monitor = FeatureMonitor()

    def hammer() -> None:
        for _ in range(5_000):
            monitor.log_feature_access("v")

    threads = [threading.Thread(target=hammer) for _ in range(8)]
    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old_interval)
    assert not any(t.is_alive() for t in threads)
    metrics = monitor.get_metrics()
    assert metrics["access_counts"] == {"v": 40_000}
    assert metrics["total_accesses"] == 40_000
