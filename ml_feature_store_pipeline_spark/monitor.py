"""Access/creation metrics + alerting (reference ``FeatureMonitor``,
`ML Feature Store Pipeline.py:201-226`; dashboard K7 `:534-541`).

Driver-side counters — the store's public API runs on the driver, so plain
dicts suffice; nothing here executes inside tasks. (If an operator ever
needs executor-side counting, use SparkContext accumulators instead.)
"""

from __future__ import annotations

import threading
import time
from typing import Any


class FeatureMonitor:
    def __init__(self, alert_threshold: float = 0.8) -> None:
        # alert threshold is configurable here; hardcoded 0.8 in the reference `:217`
        self.alert_threshold = alert_threshold
        self.access_counts: dict[str, int] = {}
        self._access_lock = threading.Lock()  # serving threads count concurrently
        self.creation_records: list[dict[str, Any]] = []
        self.alerts: list[str] = []

    def log_feature_access(self, version: str, n_users: int | None = None) -> None:
        """Access counter increment (reference `:206-209`)."""
        with self._access_lock:
            self.access_counts[version] = self.access_counts.get(version, 0) + 1

    def log_feature_creation(self, version: str, n_rows: int, quality_score: float) -> None:
        """Creation record + low-quality alert (reference `:211-220`)."""
        self.creation_records.append(
            {
                "feature_version": version,
                "n_rows": n_rows,
                "quality_score": quality_score,
                "logged_at": time.time(),
            }
        )
        if quality_score < self.alert_threshold:
            self.alerts.append(
                f"Low data quality score {quality_score:.3f} for version {version}"
            )

    def get_metrics(self) -> dict[str, Any]:
        with self._access_lock:
            access_counts = dict(self.access_counts)
        return {
            "access_counts": access_counts,
            "creation_records": list(self.creation_records),
            "total_accesses": sum(access_counts.values()),
            "total_creations": len(self.creation_records),
        }
