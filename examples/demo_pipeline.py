"""End-to-end demo: the reference's ``main()`` flow (`ML Feature Store
Pipeline.py:610-675`), Spark-native.

generate → extract → register (validate/hash/persist) → read → serve →
metadata → list versions → cleanup → dashboard. Run:

    python examples/demo_pipeline.py [store_dir]
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from ml_feature_store_pipeline_spark import FeatureMetadata, UserEventExtractor, get_spark
from ml_feature_store_pipeline_spark.generator import generate_events
from ml_feature_store_pipeline_spark.store import FeatureStore


def main() -> None:
    store_dir = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="feature_store_")
    spark = get_spark("demo_pipeline")

    events = generate_events(spark, n_events=1000, n_users=100, seed=42)
    print(f"events: {events.count()} rows, schema {events.columns}")

    extractor = UserEventExtractor()
    features = extractor.extract(events)

    store = FeatureStore(spark, store_dir)
    meta = FeatureMetadata(
        description="User event features from synthetic demo data",
        features_config=extractor.get_feature_configs(),
        lineage={"source": "generate_events(seed=42)", "extractor": "UserEventExtractor"},
        tags=["demo", "user_features"],
    )
    version = store.register_features(features, meta)
    print(f"registered version {version[:8]}… at {store_dir}")

    back = store.get_features(version)
    print(f"read back: {back.count()} users")

    one_user = back.select("user_id").limit(1).collect()[0][0]
    served = store.serve_features(one_user)
    print(f"served user {one_user}: total_events={served['total_events']}, "
          f"purchase_rate={served['purchase_rate']:.3f}")

    m = store.get_feature_metadata(version)
    print(f"metadata: quality score {m.data_quality_metrics.overall_score:.4f}, "
          f"{len(m.features_config)} declared features")

    # register a second version, then retention
    v2 = store.register_features(
        extractor.extract(generate_events(spark, n_events=2000, n_users=100, seed=7)), meta
    )
    print(f"second version {v2[:8]}…")

    # staleness SLA in the lifecycle: register → serve → re-register →
    # serve must flip to v2 IMMEDIATELY (the serving index is
    # version-scoped, and latest_version() resolves from a metadata
    # catalog that every call brings up to date with the commit log —
    # unlike the reference's TTL cache, whose entries are never invalidated on
    # re-registration and can lag a version's DB rows by up to 3600 s).
    v2_rows = store.get_features(v2, use_cache=False)
    fresh_user = v2_rows.select("user_id").limit(1).collect()[0][0]
    served_now = store.serve_features(fresh_user)  # version=None -> latest
    offline_v2 = {
        int(r["user_id"]): r for r in v2_rows.filter(F.col("user_id") == fresh_user).collect()
    }
    assert served_now["total_events"] == offline_v2[int(fresh_user)]["total_events"], (
        "stale serve: latest-version read did not reflect the re-registration"
    )
    audit = store.validate_serving_parity()  # latest = v2, md5-ordered sample
    assert audit["version"] == v2 and audit["mismatches"] == [], audit
    print(f"post-re-registration serve is v2-fresh; parity audit {audit['checked']}/"
          f"{audit['checked']} entities byte-identical, staleness window 0 s")
    print("versions:", [(v["feature_version"][:8], v["description"][:30]) for v in store.list_feature_versions()])
    doomed = store.cleanup_old_versions(keep_n=1)
    print(f"cleanup removed {len(doomed)} version(s); dashboard: {store.get_monitoring_dashboard()['metrics']['total_creations']} creations, "
          f"partitions now {len(store.get_monitoring_dashboard()['partitions'])}")

    # --- training workflow on top of the store ---------------------------
    from ml_feature_store_pipeline_spark.operators import drift, sampling
    from ml_feature_store_pipeline_spark.operators.pit import FeatureView, training_set

    purchases = events.filter(F.col("amount") > 0).select(
        "user_id", F.col("timestamp").alias("p_ts"), F.col("amount").alias("p_amount")
    )
    labels = events.select("user_id", "timestamp", (F.col("amount") > 0).cast("int").alias("label"))
    ts_df = training_set(
        labels,
        {"purch": FeatureView(purchases, "p_ts", ["p_amount"], strict=True)},
        key="user_id",
        label_ts="timestamp",
        staleness_seconds=7 * 86400.0,
    )
    train, test = sampling.train_test_split(ts_df, "user_id", 0.2)
    print(f"point-in-time training set: {ts_df.count()} rows -> "
          f"train {train.count()} / test {test.count()} (entity-keyed, leakage-safe)")

    early = events.filter(F.col("timestamp") < F.lit("2023-01-01 08:00:00").cast("timestamp"))
    late = events.filter(F.col("timestamp") >= F.lit("2023-01-01 08:00:00").cast("timestamp"))
    psi = drift.psi(early, late, "amount", lo=0.0, hi=300.0, bins=10)
    print(f"amount-distribution PSI early-vs-late: {psi:.4f} "
          f"({'stable' if psi < 0.1 else 'drifting' if psi < 0.25 else 'ALARM'})")


if __name__ == "__main__":
    main()
