"""Offline/online feature store over version-partitioned parquet.

Re-expresses the reference's ``AdvancedFeatureStore`` (`ML Feature Store
Pipeline.py:229-541`) on Spark:

- the SQLite ``features`` table (`:262-280`) → a parquet table partitioned
  by ``feature_version``: append = write one new partition directory,
  version reads prune to one subtree, retention = drop directories. At
  100 TB the intended-but-broken SQLite indexes (`:277-278`) become
  partition pruning (version) + parquet row-group min/max stats (user_id,
  helped by sorting within partitions at write).
- the ``feature_metadata`` table (`:282-292`) → an append-only log of JSON
  records in ``_log/``, one per publish (``put`` = INSERT OR REPLACE) or
  retention (``drop``), each created put-if-absent under its sequence
  number (Delta Lake's commit log). Each handle folds the log into a
  driver-memory catalog and checks for the next record on every read, so
  resolving a version is plain Python (the reference's sub-millisecond
  SQLite query, `:373-380`) and concurrent writers lose no commit.
- asyncio/aiosqlite (`:261, :317, :373`) → not replicated: Spark supplies
  the parallelism; the public API is synchronous (SURVEY §3.4).
"""

from __future__ import annotations

import copy
import datetime as _dt
import json
import os
import threading
import uuid
from collections.abc import Callable
from typing import Any

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from .cache import CacheBackend, InMemoryTTLCache, cache_key
from .config import DataQualityMetrics, FeatureMetadata
from .monitor import FeatureMonitor
from .quality import DataQualityValidator
from .schemas import CREATED_AT_COLUMN, VERSION_COLUMN
from .sources.writers import drop_partition_dirs, list_partition_values
from .versioning import content_version


def _utc_now_iso() -> str:
    """ISO-8601 UTC stamp (reference H2 `:634`) — lexicographic == chronological."""
    return _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None).isoformat()


def _apply(rows: list[dict[str, Any]], record: dict[str, Any]) -> list[dict[str, Any]]:
    """Fold one log record into the metadata rows: a ``put`` replaces the
    row of its version (INSERT OR REPLACE), a ``drop`` removes versions."""
    if record["op"] == "put":
        row = record["row"]
        return [r for r in rows if r[VERSION_COLUMN] != row[VERSION_COLUMN]] + [row]
    gone = set(record["versions"])
    return [r for r in rows if r[VERSION_COLUMN] not in gone]


def _newest_first(rows: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """created_at desc with nulls last, then version desc: the order
    latest_version(), version_as_of() and retention resolve by."""
    return sorted(
        rows,
        key=lambda r: (r[CREATED_AT_COLUMN] is not None, r[CREATED_AT_COLUMN] or "", r[VERSION_COLUMN]),
        reverse=True,
    )


class FeatureStore:
    """Versioned feature store (reference K1–K7)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        cache: CacheBackend | None = None,
        validator: DataQualityValidator | None = None,
        cache_ttl: int = 3600,
        alert_threshold: float = 0.8,
        sort_within_partitions_by: str | None = "user_id",
        max_serving_index_rows: int = 5_000_000,
    ) -> None:
        self.spark = spark
        self.path = path
        self.features_path = os.path.join(path, "features")
        self.log_path = os.path.join(path, "_log")
        self.cache = cache or InMemoryTTLCache()
        self.validator = validator or DataQualityValidator()
        self.cache_ttl = cache_ttl  # reference hardcodes 3600 (`:350, :412`)
        self.monitor = FeatureMonitor(alert_threshold=alert_threshold)
        self.sort_col = sort_within_partitions_by
        self.max_serving_index_rows = max_serving_index_rows
        legacy = os.path.join(path, "feature_metadata")
        if os.path.isdir(legacy) and not os.path.isdir(self.log_path):
            raise ValueError(f"{legacy} is a parquet metadata table; this store reads {self.log_path}")
        os.makedirs(self.log_path, exist_ok=True)
        # catalog: (next log sequence number, rows folded from the records
        # before it, newest first); one tuple, so readers never see a torn pair
        self._catalog: tuple[int, list[dict[str, Any]]] = (0, [])
        self._catalog_lock = threading.Lock()

    # ------------------------------------------------------------------ K1
    def register_features(
        self, features: DataFrame, metadata: FeatureMetadata, *, enforce_schema: bool = True
    ) -> str:
        """Validate → content-hash → stamp → append partition → metadata upsert
        → monitor → cache (reference `:295-353`).

        Re-registering a committed version writes no rows (they keep their
        first ``created_at``); its metadata takes the new stamp, so it becomes
        latest again, as with the reference's upsert.

        Unlike the reference — which inserts whatever columns the frame has
        (`:320-321`, schema effectively trusted) — declared ``features_config``
        entries are checked against the actual schema (SURVEY §1.3: strictly
        more checking, flagged as such). ``enforce_schema=False`` restores the
        reference's trusting behavior.
        """
        if enforce_schema and metadata.features_config:
            self._check_schema(features, metadata)
        # Register runs SEVERAL separate actions over the same (often
        # aggregate-shaped) feature lineage — the validator's profile
        # jobs, the content hash, the partitioned write, the monitor
        # count. Unpersisted, each re-computes the extractor from the
        # source scan (guide §5; measured ~2.5-2.9 s warm for the
        # serving-parity fixture, dominated by these recomputes). Persist
        # for the register's duration only — a within-run pin of an
        # intermediate (the ivf_build pattern), never a cross-run cache —
        # and unpersist in finally so the store never holds storage
        # memory past the call. A frame the caller already persisted is
        # used as is and left cached: re-persisting at another level
        # raises, and unpersisting would evict the caller's cache.
        persisted_here = features.storageLevel == StorageLevel.NONE
        if persisted_here:
            features.persist()
        try:
            metrics, _prof = self.validator.validate(features)
            version = content_version(features)

            # one stamp for BOTH the feature rows and the metadata copy
            # below: a backfill's explicit metadata.created_at must also be
            # what the row-level column says, or version_as_of()
            # time-travels to rows that self-describe a different creation
            # time (r9 review).
            created_at = metadata.created_at or _utc_now_iso()
            if all(r[VERSION_COLUMN] != version for r in self._metadata_rows()):
                stamped = features.drop(VERSION_COLUMN).withColumn(
                    CREATED_AT_COLUMN, F.lit(created_at)
                )
                if self.sort_col and self.sort_col in features.columns:
                    # sort within output files so parquet row-group min/max
                    # stats make later user_id point-lookups skip row groups
                    # (the scalable stand-in for the reference's intended
                    # INDEX(user_id))
                    stamped = stamped.sortWithinPartitions(self.sort_col)
                # into the version's own directory: concurrent publishes into
                # features/ would share one Hadoop _temporary, and the first
                # job commit deletes it under the other (TASK_WRITE_FAILED)
                stamped.write.mode("append").parquet(
                    os.path.join(self.features_path, f"{VERSION_COLUMN}={version}")
                )

            # stamp a COPY — mutating the caller's object made a REUSED
            # FeatureMetadata carry the first registration's created_at into
            # every later register call, so latest_version() (top-1 by
            # created_at) could keep resolving to the superseded version: the
            # exact staleness mode this store claims a zero window for (found
            # by the demo's register→serve→re-register→serve assertion, r9).
            # An EXPLICITLY pre-set created_at is still honored (backfill /
            # time-travel) — give CORRECTED backfills a strictly later stamp:
            # two different-content registrations with an EQUAL explicit
            # created_at are genuinely unordered in this schema, and
            # latest_version() resolves the tie by version hash
            # (deterministic, but not registration order).
            import dataclasses

            stamped_meta = dataclasses.replace(
                metadata,
                feature_version=version,
                created_at=created_at,
                data_quality_metrics=metrics,
            )
            # A5: INSERT OR REPLACE = one ``put`` record in the log
            self._commit(lambda _rows: {"op": "put", "row": stamped_meta.to_dict()})

            n_rows = features.count()
            self.monitor.log_feature_creation(version, n_rows, metrics.overall_score)
            # The reference eagerly caches the whole frame at register
            # (`:349-350`); at scale that collect is wrong, so the serving
            # cache fills lazily on first read instead (same hit behavior
            # from the second access on).
            return version
        finally:
            if persisted_here:
                features.unpersist()

    def _check_schema(self, features: DataFrame, metadata: FeatureMetadata) -> None:
        """Declared configs must exist in the frame with the declared dtype."""
        from .schemas import dtype_to_spark

        actual = {f.name: f.dataType for f in features.schema.fields}
        problems = []
        for cfg in metadata.features_config:
            if cfg.name not in actual:
                problems.append(f"declared feature {cfg.name!r} missing from DataFrame")
            else:
                expected = dtype_to_spark(cfg.dtype)
                if actual[cfg.name] != expected:
                    problems.append(
                        f"{cfg.name}: declared {cfg.dtype} ({expected.simpleString()}) "
                        f"but DataFrame has {actual[cfg.name].simpleString()}"
                    )
        if problems:
            raise ValueError("feature schema mismatch: " + "; ".join(problems))

    def _record_path(self, seq: int) -> str:
        return f"{self.log_path}{os.sep}{seq:020d}.json"

    def _metadata_rows(self) -> list[dict[str, Any]]:
        """The metadata table, newest first, answered from the catalog.

        Every call checks whether the next log record exists, with one
        ``access`` call (under a microsecond, and no exception raised when it
        is absent): while it is absent the catalog is current, so a commit
        from another handle or process shows on the next call. A new handle
        starts from record 0, so its first call folds the whole log."""
        seq, rows = self._catalog
        if not os.access(self._record_path(seq), os.F_OK):
            return rows
        with self._catalog_lock:
            return self._catch_up()[1]

    def _catch_up(self) -> tuple[int, list[dict[str, Any]]]:
        """Under ``_catalog_lock``: fold every record from the catalog's next
        sequence number on. Records appear whole (see :meth:`_commit`), and
        in sequence order, so the first absent number ends the log."""
        seq, rows = self._catalog
        while True:
            try:
                with open(self._record_path(seq)) as fh:
                    record = json.load(fh)
            except FileNotFoundError:
                break
            rows = _apply(rows, record)
            seq += 1
        if seq != self._catalog[0]:
            self._catalog = (seq, _newest_first(rows))
        return self._catalog

    def _commit(
        self, make_record: Callable[[list[dict[str, Any]]], dict[str, Any] | None]
    ) -> dict[str, Any] | None:
        """Append one record to the log, put-if-absent: it is written and
        fsynced under a ``.tmp-*`` name, then hard-linked to the next
        sequence number, so no reader sees a partial record. The link fails
        with EEXIST when another handle or process took that number; then
        the catalog catches up and ``make_record`` — given the current rows,
        newest first — builds the record again for the next number. Returns
        the committed record, or None when ``make_record`` returns None."""
        tmp = os.path.join(self.log_path, f".tmp-{uuid.uuid4().hex}")
        with self._catalog_lock:
            try:
                while True:
                    seq, rows = self._catch_up()
                    record = make_record(rows)
                    if record is None:
                        return None
                    with open(tmp, "w") as fh:
                        json.dump(record, fh)
                        fh.flush()
                        os.fsync(fh.fileno())
                    try:
                        os.link(tmp, self._record_path(seq))
                    except FileExistsError:
                        continue
                    self._catalog = (seq + 1, _newest_first(_apply(rows, record)))
                    return record
            finally:
                if os.path.exists(tmp):
                    os.remove(tmp)

    # ------------------------------------------------------------------ K2
    def latest_version(self) -> str | None:
        """F1 `:373-380`: top-1 by created_at, from the metadata catalog (no
        Spark job). Version hash desc breaks created_at ties (two
        registrations in one microsecond, or an explicit backfilled
        timestamp) so resolution is deterministic — but it is NOT
        registration order: two different-content registrations carrying
        an EQUAL explicit created_at are unordered in this schema, so give
        corrected backfills a strictly later stamp (a monotonic
        registration sequence column is the schema-vNext fix)."""
        rows = self._metadata_rows()
        return rows[0][VERSION_COLUMN] if rows else None

    def version_as_of(self, as_of: str) -> str | None:
        """Time-travel resolution: the version that was latest at ``as_of``
        (ISO-8601 UTC, same format as the stamped created_at) — what a
        training job reads to reproduce the features a past run saw.
        First catalog row stamped at or before ``as_of``; no Spark job."""
        return next(
            (
                r[VERSION_COLUMN]
                for r in self._metadata_rows()
                if r[CREATED_AT_COLUMN] is not None and r[CREATED_AT_COLUMN] <= as_of
            ),
            None,
        )

    def get_features(
        self,
        version: str | None = None,
        user_ids: list[int] | None = None,
        use_cache: bool = True,
        as_of: str | None = None,
    ) -> DataFrame:
        """Partition-pruned version read with optional user filter (reference
        `:363-416`). Returns a LAZY DataFrame; the B1 version predicate prunes
        to one partition directory, the B2 IN-list reaches parquet row groups
        as pushed filters. ``as_of`` time-travels to the version that was
        latest at that timestamp (mutually exclusive with ``version``)."""
        if as_of is not None:
            if version is not None:
                raise ValueError("pass either version or as_of, not both")
            version = self.version_as_of(as_of)
            if version is None:
                raise ValueError(f"no version existed at or before {as_of!r}")
        version = version or self.latest_version()
        if version is None:
            raise ValueError("feature store is empty — no registered versions")
        df = self.spark.read.parquet(self.features_path).filter(
            F.col(VERSION_COLUMN) == version
        )
        if user_ids is not None:
            df = df.filter(F.col("user_id").isin([int(u) for u in user_ids]))
        self.monitor.log_feature_access(version, len(user_ids) if user_ids else None)
        return df

    def merge_features(
        self,
        changes: DataFrame,
        *,
        base_version: str | None = None,
        keys: list[str] | None = None,
        op_col: str = "op",
        seq_col: str | None = None,
        metadata: FeatureMetadata | None = None,
    ) -> str:
        """Point corrections as a NEW immutable version: apply a CDC batch
        (upserts + deletes, ``operators.cdc`` semantics) to ``base_version``
        (default latest) and register the merged result — the batch form of
        the reference's row-level ``INSERT OR REPLACE`` / ``DELETE``
        mutations (SURVEY §2 A4/A9), with the store's versioning preserved:
        the base version stays readable, lineage records the derivation.

        Scale shape: one pruned scan of the base partition + the broadcast
        anti-join apply — the batch is the only thing shuffled."""
        from .operators import cdc

        base_version = base_version or self.latest_version()
        if base_version is None:
            raise ValueError("feature store is empty — nothing to merge into")
        base = self.get_features(version=base_version, use_cache=False).drop(
            VERSION_COLUMN, CREATED_AT_COLUMN
        )
        merged = cdc.merge_changes(
            base, changes, keys or ["user_id"], op_col=op_col, seq_col=seq_col
        )
        import dataclasses

        meta = metadata or FeatureMetadata(
            description=f"CDC merge into {base_version}"
        )
        # copy before injecting lineage: a caller-reused metadata object
        # must not silently accumulate derivation keys (ADVICE r4)
        meta = dataclasses.replace(
            meta,
            lineage={**meta.lineage, "base_version": base_version, "derived_by": "cdc_merge"},
        )
        # merged output needs no re-declared schema check: columns are the
        # base version's by construction
        return self.register_features(merged, meta, enforce_schema=False)

    def diff_versions(
        self, old_version: str, new_version: str, *, keys: list[str] | None = None
    ) -> DataFrame:
        """Audit the change batch between two registered versions (the
        inverse of :meth:`merge_features`): upsert rows for keys added or
        changed in ``new_version``, delete rows for keys it dropped —
        ``operators.cdc.diff_snapshots`` over two pruned partition reads.
        ``merge_changes(old, diff) == new`` exactly (property-tested at
        the operator level), so the diff is also the minimal incremental
        replication feed between the two snapshots."""
        from .operators import cdc

        old = self.get_features(version=old_version, use_cache=False).drop(
            VERSION_COLUMN, CREATED_AT_COLUMN
        )
        new = self.get_features(version=new_version, use_cache=False).drop(
            VERSION_COLUMN, CREATED_AT_COLUMN
        )
        return cdc.diff_snapshots(old, new, keys or ["user_id"])

    # ------------------------------------------------------------------ K3
    def serve_features(self, user_id: int, version: str | None = None) -> dict[str, Any]:
        """Single-entity online lookup (reference `:427-446`).

        The reference re-runs a table scan per (version, user) on cache miss
        (`:382-401`). Here the WHOLE version slice is collected once into the
        driver TTL cache and point lookups are dict hits — same results, one
        job per version instead of one per user (SURVEY §3.3).

        The collect is size-guarded: a version larger than
        ``max_serving_index_rows`` (checked with a limit-bounded probe, not a
        full count) is never pulled to the driver — lookups fall back to the
        pushed-filter path (``get_features(user_ids=[user_id])``), where the
        B1+B2 predicates reach the parquet scan and row-group stats skip
        non-matching files. Same dict either way.
        """
        version = version or self.latest_version()
        if version is None:
            return {}
        key = cache_key(version) + "_serving_index"
        too_big_key = key + "_too_big"
        index: dict[int, dict[str, Any]] | None = self.cache.get(key)
        if index is None:
            limit = self.max_serving_index_rows
            if not self.cache.get(too_big_key):
                slice_df = self.get_features(version=version, use_cache=False)
                if slice_df.limit(limit + 1).count() <= limit:
                    rows = slice_df.collect()
                    index = {r["user_id"]: self._serving_dict(r) for r in rows}
                    self.cache.set(key, index, ttl=self.cache_ttl)
                else:
                    self.cache.set(too_big_key, True, ttl=self.cache_ttl)
            if index is None:  # oversized version: pushed-filter point lookup
                rows = self.get_features(
                    version=version, user_ids=[int(user_id)], use_cache=False
                ).collect()
                return self._serving_dict(rows[0]) if rows else {}
        else:
            self.monitor.log_feature_access(version, 1)
        return index.get(int(user_id), {})

    def validate_serving_parity(
        self, version: str | None = None, *, sample_size: int = 100
    ) -> dict[str, Any]:
        """Online/offline consistency check: serve a deterministic sample
        of entities through the ONLINE path (:meth:`serve_features` — cache
        index or pushed-filter lookup) and compare byte-for-byte against
        the OFFLINE batch read of the same version. Training/serving skew
        is the classic silent feature-store failure; platforms run exactly
        this audit after every publish.

        The sample is md5-ordered (stable across runs/partitionings), so
        re-running after a fix re-checks the SAME entities. Returns
        ``{"version", "checked", "mismatches": [user_id, ...]}`` —
        empty mismatches is the pass condition. Driver cost is bounded by
        ``sample_size`` (one N-row collect + N dict lookups).

        Staleness SLA: with ``version=None`` the audit resolves and
        checks the CURRENT latest version. The reference resolves
        ``feature_version=None`` to the latest version from the DB
        *before* its cache lookup, but cache entries are never
        invalidated on re-registration — TTL-only expiry (reference
        `:350,412`) — so a version's cached frames can lag the DB's rows
        for that version by up to 3600 s. Here that window is ZERO: the
        serving index is version-scoped, ``latest_version()`` resolves
        from a metadata catalog that every call brings up to date with the
        commit log (one stat while no new record exists), and
        re-registration rebuilds the index — a stale index
        can only be served if it is planted under the new version's key,
        which this audit detects as a full-sample mismatch
        (``test_serving_parity_audit_detects_stale_cache_epoch``)."""
        version = version or self.latest_version()
        if version is None:
            return {"version": None, "checked": 0, "mismatches": []}
        offline = self.get_features(version=version, use_cache=False)
        sample = (
            offline.select("user_id")
            .distinct()
            .orderBy(F.md5(F.col("user_id").cast("string")))
            .limit(sample_size)
            .collect()
        )
        keys = [int(r["user_id"]) for r in sample]
        batch = {
            int(r["user_id"]): self._serving_dict(r)
            for r in offline.filter(F.col("user_id").isin(keys)).collect()
        }
        mismatches = [
            uid
            for uid in keys
            if self.serve_features(uid, version=version) != batch.get(uid, {})
        ]
        return {"version": version, "checked": len(keys), "mismatches": mismatches}

    @staticmethod
    def _serving_dict(row: Row) -> dict[str, Any]:
        d = row.asDict()
        d.pop(VERSION_COLUMN, None)  # B5 `:438-439`
        d.pop(CREATED_AT_COLUMN, None)
        return d

    # ------------------------------------------------------------------ K4
    def get_feature_metadata(self, version: str) -> FeatureMetadata | None:
        """A7 point lookup (reference `:456-475`), from the catalog."""
        row = next((r for r in self._metadata_rows() if r[VERSION_COLUMN] == version), None)
        return self._metadata_from_dict(row) if row is not None else None

    @staticmethod
    def _metadata_from_dict(row: dict[str, Any]) -> FeatureMetadata:
        from .config import FeatureConfig

        d = copy.deepcopy(row)  # callers must not mutate the catalog's row
        return FeatureMetadata(
            feature_version=d[VERSION_COLUMN],
            description=d.get("description") or "",
            created_at=d.get(CREATED_AT_COLUMN) or "",
            features_config=[FeatureConfig(**c) for c in (d.get("features_config") or [])],
            data_quality_metrics=DataQualityMetrics(**d["data_quality_metrics"])
            if d.get("data_quality_metrics")
            else None,
            lineage=d.get("lineage") or {},
            tags=d.get("tags") or [],
        )

    # ------------------------------------------------------------------ K5
    def list_feature_versions(self) -> list[dict[str, Any]]:
        """A8/F2 ordered listing (reference `:481-497`), newest first, from
        the catalog."""
        return [
            {
                "feature_version": r[VERSION_COLUMN],
                "description": r["description"],
                "created_at": r[CREATED_AT_COLUMN],
                "quality_score": (
                    r["data_quality_metrics"]["overall_score"]
                    if r["data_quality_metrics"] is not None
                    else None
                ),
                "tags": list(r["tags"] or []),
            }
            for r in self._metadata_rows()
        ]

    # ------------------------------------------------------------------ K6
    def cleanup_old_versions(self, keep_n: int = 5) -> list[str]:
        """Keep newest N versions (reference `:503-528`). Files go last: a
        ``drop`` record is committed first, so no resolution returns a
        doomed version from then on; then the cache is evicted; then the
        partition directories are dropped — no data rewrite. The doomed set
        is worked out again whenever another writer's commit lands first."""

        def drop(rows: list[dict[str, Any]]) -> dict[str, Any] | None:
            doomed = [r[VERSION_COLUMN] for r in rows[keep_n:]]  # rows are newest first
            return {"op": "drop", "versions": doomed} if doomed else None

        record = self._commit(drop)
        if record is None:
            return []
        doomed = record["versions"]
        for v in doomed:
            delete_prefix = getattr(self.cache, "delete_prefix", None)
            if delete_prefix is not None:
                delete_prefix(cache_key(v))
            else:
                self.cache.delete(cache_key(v))
        drop_partition_dirs(self.features_path, VERSION_COLUMN, doomed)
        return doomed

    # ------------------------------------------------------------------ K7
    def get_monitoring_dashboard(self) -> dict[str, Any]:
        """Dashboard dict, same shape as reference `:534-541`."""
        return {
            "metrics": self.monitor.get_metrics(),
            "alerts": list(self.monitor.alerts),
            "cache_info": self.cache.info(),
            "store_path": self.path,
            "partitions": list_partition_values(self.features_path, VERSION_COLUMN),
        }
