"""Feature-store benchmark: one command, two workloads, optional trace.

    python3 perfbench/run.py --workload online --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload offline_batch --seed 1 --seconds 10 --trace 1
    python3 perfbench/run.py --workload all --seed 1     # every workload, untraced then traced

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). Lines before it list every metric with its unit and sample
count. Results, span files and generated inputs go under
``.perfbench_work/`` in the repository root; see ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import traceback
from typing import Any

# import perfbench and the package under test from the repository root, and
# keep this directory off the path so its module names shadow nothing
sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from perfbench import common  # noqa: E402
from perfbench.offline import QUERIES  # noqa: E402

WORKLOADS = ("online", "offline_batch")
E2E_UNITS = {"setup_s": "s", "pass_s": "s", "request_gmean_ms": "ms", "driver_rss_growth_mb": "MB"}
#: a run that has not finished by then is stopped (the budget is 180 s)
DEADLINE_S = 170.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args.seed, args.seconds)
    if not os.path.isdir(os.path.join(common.ROOT, "ml_feature_store_pipeline_spark")):
        print(f"perfbench: no ml_feature_store_pipeline_spark package under {common.ROOT}", file=sys.stderr)
        return 2

    run_dir = os.path.join(common.WORK, f"run-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    common.prepare_process(run_dir, bool(args.trace))
    watchdog = threading.Timer(DEADLINE_S, _deadline)
    watchdog.daemon = True
    watchdog.start()
    try:
        return run_one(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        common.stop_spark()
        watchdog.cancel()
        shutil.rmtree(run_dir, ignore_errors=True)


def _deadline() -> None:
    print(f"perfbench: run exceeded {DEADLINE_S:.0f} s, stopping", file=sys.stderr)
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.kill()
        proc.wait(timeout=30)
    os._exit(3)


def run_one(workload: str, seed: int, seconds: float, trace: bool, run_dir: str) -> int:
    from perfbench import gen, offline, online

    box = common.box_state()
    recorder = None
    if trace:
        from perfbench.spans import Recorder

        recorder = Recorder()
        install_spans(recorder)

    def spark_factory() -> Any:
        from ml_feature_store_pipeline_spark import session

        spark = session.get_spark(f"perfbench-{workload}")
        if recorder is not None:
            recorder.sc = spark.sparkContext
        return spark

    module = online if workload == "online" else offline
    out = module.run(spark_factory, run_dir=run_dir, seed=seed, seconds=seconds, recorder=recorder)
    ops = out["ops"]
    box["calibration_s"] = common.calibration_s(out["spark"])
    box["loadavg_end"] = list(os.getloadavg())
    box["steal_s"] = common.cpu_steal_s() - box["steal_s"]  # during the run

    record: dict[str, Any] = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": int(trace),
        "metrics": out["metrics"],
        "detail": out["detail"],
        "attempted": ops.attempted,
        "failed": ops.failed,
        "op_error_rate": ops.failed / max(ops.attempted, 1),
        "failures": ops.failures,
        "box": box,
    }
    if recorder is not None:
        records, agg = recorder.summary()
        layers = per_layer(agg, records, out["layer"])
        record["per_layer"] = layers
        record["tracing_overhead"] = tracing_overhead(workload, seed, out["metrics"])
        recorder.unwrap_all()
        spans_path = os.path.join(common.RESULTS, f"{workload}-s{seed}-spans.json")
        _write_json(spans_path, {"spans": records, "by_name": agg, "per_layer": layers})
        record["spans_file"] = spans_path
    common.stop_spark()
    gen.prune_cache(common.INPUTS, keep=4)
    _write_json(os.path.join(common.RESULTS, f"{workload}-s{seed}-t{int(trace)}.json"), record)

    print_report(record)
    if trace:
        metrics = {k: {"value": v[0], "unit": v[1]} for k, v in record["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in out["metrics"].items()}
    print(json.dumps({"correct": ops.failed == 0, "attempted": ops.attempted, "failed": ops.failed, "metrics": metrics}))
    return 0


# ---------------------------------------------------------------------- trace


def install_spans(rec: Any) -> None:
    """Wrap the public entry points of each layer (traced runs only)."""
    from ml_feature_store_pipeline_spark import cache, extractors, harness, monitor, quality, session, store, versioning
    from ml_feature_store_pipeline_spark.sources import readers, writers

    harness.query_registry()  # imports every registry module, so each read_table binding is patched

    def index_rows(sp: Any, args: tuple, _result: Any) -> None:
        key, value = args[1], args[2]
        if key.endswith("_serving_index") and isinstance(value, dict):
            sp.attrs["index_rows"] = len(value)

    rec.wrap_function(session, "get_spark", "session.get_spark", spark=False)
    rec.wrap_function(readers, "read_table", "readers.read_table")
    rec.wrap(extractors.UserEventExtractor, "extract", "extractors.extract")
    rec.wrap(quality.DataQualityValidator, "validate", "quality.validate")
    rec.wrap_function(versioning, "content_version", "versioning.content_version")
    rec.wrap_function(writers, "atomic_overwrite_parquet", "writers.atomic_overwrite_parquet")
    rec.wrap_function(writers, "drop_partition_dirs", "writers.drop_partition_dirs", spark=False)
    for name in ("register_features", "cleanup_old_versions", "list_feature_versions", "latest_version", "get_features", "serve_features"):
        rec.wrap(store.FeatureStore, name, f"store.{name}")
    rec.wrap(cache.InMemoryTTLCache, "get", "cache.get", spark=False)
    rec.wrap(cache.InMemoryTTLCache, "set", "cache.set", spark=False, on_result=index_rows)
    rec.wrap(monitor.FeatureMonitor, "log_feature_access", "monitor.log_feature_access", spark=False)
    rec.wrap(monitor.FeatureMonitor, "log_feature_creation", "monitor.log_feature_creation", spark=False)


#: per-layer metric → unit; the order is the order of BENCHMARK.json
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "readers.read_table_ms": "ms",
    "extractors.extract_ms": "ms",
    "quality.validate_s": "s",
    "quality.validate.jobs": "count",
    "versioning.content_version_s": "s",
    "versioning.content_version.jobs": "count",
    "store.register_features_s": "s",
    "store.register_features.self_s": "s",
    "store.register_features.jobs": "count",
    "writers.atomic_overwrite_parquet_s": "s",
    "writers.atomic_overwrite_parquet.calls_per_cycle": "count",
    "store.cleanup_old_versions_s": "s",
    "writers.drop_partition_dirs_s": "s",
    "writers.files_per_version": "count",
    "store.latest_version_ms": "ms",
    "store.latest_version.jobs_per_serve": "count",
    "store.serving_index_build_s": "s",
    "cache.get_us": "us",
    "cache.hit_ratio": "ratio",
    "cache.index_rows": "count",
    "monitor.calls": "count",
    "store.get_features.rows_read_per_row_returned": "ratio",
    "spark.stage_wait_s": "s",
    "spark.jobs": "count",
    "harness.build_s": "s",
    **{
        f"{span}{suffix}": unit
        for span in QUERIES.values()
        for suffix, unit in (("_s", "s"), (".jobs", "count"), (".shuffle_bytes", "B"))
    },
}


def per_layer(agg: dict[str, dict[str, Any]], records: list[dict[str, Any]], layer: dict[str, Any]) -> dict[str, tuple[float, str]]:
    """The per-layer table. A layer the workload never calls reads 0."""

    def g(name: str, key: str) -> float:
        return float(agg.get(name, {}).get(key, 0))

    def per_call(name: str, key: str) -> float:
        return g(name, key) / g(name, "calls") if g(name, "calls") else 0.0

    by_id = {r["id"]: r for r in records}
    index_sets = [r for r in records if r["name"] == "cache.set" and "index_rows" in r]
    builds = [by_id[r["parent"]] for r in index_sets if r["parent"] in by_id]
    build_s = [b["end"] - b["start"] for b in builds if b["name"] == "store.serve_features"]
    info = layer.get("cache_info", {})
    gets = info.get("hits", 0) + info.get("misses", 0)
    read = g("bench.batch_get", "input_records_incl") + g("bench.serve_oversize", "input_records_incl")
    cycles = layer.get("publish_cycles", 0)
    v: dict[str, float] = {
        "session.get_spark_s": g("session.get_spark", "total_s"),
        "readers.read_table_ms": g("readers.read_table", "median_s") * 1e3,
        "extractors.extract_ms": g("extractors.extract", "median_s") * 1e3,
        "quality.validate_s": g("quality.validate", "median_s"),
        "quality.validate.jobs": per_call("quality.validate", "jobs_incl"),
        "versioning.content_version_s": g("versioning.content_version", "median_s"),
        "versioning.content_version.jobs": per_call("versioning.content_version", "jobs_incl"),
        "store.register_features_s": g("store.register_features", "median_s"),
        "store.register_features.self_s": g("store.register_features", "median_self_s"),
        "store.register_features.jobs": per_call("store.register_features", "jobs"),
        "writers.atomic_overwrite_parquet_s": g("writers.atomic_overwrite_parquet", "median_s"),
        "writers.atomic_overwrite_parquet.calls_per_cycle": g("writers.atomic_overwrite_parquet", "calls") / cycles if cycles else 0.0,
        "store.cleanup_old_versions_s": g("store.cleanup_old_versions", "median_s"),
        "writers.drop_partition_dirs_s": g("writers.drop_partition_dirs", "median_s"),
        "writers.files_per_version": float(layer.get("files_per_version", 0)),
        "store.latest_version_ms": g("store.latest_version", "median_s") * 1e3,
        "store.latest_version.jobs_per_serve": per_call("store.latest_version", "jobs_incl"),
        "store.serving_index_build_s": statistics.median(build_s) if build_s else 0.0,
        "cache.get_us": g("cache.get", "median_s") * 1e6,
        "cache.hit_ratio": info.get("hits", 0) / gets if gets else 0.0,
        "cache.index_rows": float(max((r["index_rows"] for r in index_sets), default=0)),
        "monitor.calls": g("monitor.log_feature_access", "calls") + g("monitor.log_feature_creation", "calls"),
        "store.get_features.rows_read_per_row_returned": read / layer["rows_returned"] if layer.get("rows_returned") else 0.0,
        "spark.stage_wait_s": sum(a["stage_wait_s"] for a in agg.values()),
        "spark.jobs": sum(a["jobs"] for a in agg.values()),
        "harness.build_s": g("harness.build", "total_s"),
    }
    for span in QUERIES.values():
        one = next((r for r in records if r["name"] == span), None)
        v[f"{span}_s"] = one["end"] - one["start"] if one else 0.0
        v[f"{span}.jobs"] = one["jobs_incl"] if one else 0.0
        v[f"{span}.shuffle_bytes"] = one["shuffle_write_bytes_incl"] if one else 0.0
    return {k: (float(v[k]), unit) for k, unit in LAYER_UNITS.items()}


def tracing_overhead(workload: str, seed: int, traced: dict[str, float]) -> dict[str, float] | None:
    """Traced minus untraced end-to-end metrics, when an untraced result of
    the same workload and seed exists."""
    path = os.path.join(common.RESULTS, f"{workload}-s{seed}-t0.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        untraced = json.load(fh)["metrics"]
    return {k: traced[k] - untraced[k] for k in traced if k in untraced}


# ---------------------------------------------------------------------- output


def _write_json(path: str, obj: Any) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(obj, fh, indent=1, default=str)


def _fmt(v: Any) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def print_report(record: dict[str, Any]) -> None:
    print(f"# perfbench {record['workload']} seed={record['seed']} trace={record['trace']}")
    for name, d in record["detail"].items():
        if isinstance(d, dict) and "unit" in d:
            rest = " ".join(f"{k}={_fmt(x)}" for k, x in d.items() if k not in ("unit",))
            print(f"  {name:<24} [{d['unit']}] {rest}")
    print(f"  {'op_error_rate':<24} [ratio] value={record['op_error_rate']:.6g} failed={record['failed']} attempted={record['attempted']}")
    for f in record["failures"][:10]:
        print(f"    failure: {f}")
    box = record["box"]
    print(f"  box: nproc={box['nproc']} loadavg={box['loadavg']} -> {box['loadavg_end']} calibration_s={box['calibration_s']:.4f} steal_s={box['steal_s']:.2f}")
    if record.get("tracing_overhead"):
        print("  tracing overhead (traced - untraced): " + ", ".join(f"{k}={_fmt(x)}" for k, x in record["tracing_overhead"].items()))


def run_all(seed: int, seconds: float) -> int:
    """Every workload untraced, then traced, in child processes."""
    status = 0
    for workload in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            print("\n".join(lines[:-1]))
            if proc.returncode != 0 or not lines:
                print(f"# {workload} trace={trace}: exit code {proc.returncode}")
                status = 1
                continue
            result = json.loads(lines[-1])
            print(f"# {workload} trace={trace}: correct={result['correct']} attempted={result['attempted']} failed={result['failed']}")
            for name, m in result["metrics"].items():
                print(f"  {name:<52} {m['value']:.6g} {m['unit']}")
    return status


if __name__ == "__main__":
    sys.exit(main())
