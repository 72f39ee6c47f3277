"""Independent correctness oracles (DuckDB) and result comparison.

Expected per-user feature rows are computed by DuckDB straight from the
generated event parquet, never by the package under test. Offline query
outputs are compared against each query's ``oracle_sql()`` twin, also run
by DuckDB over the same parquet files.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
from typing import Any

import duckdb

#: Float features are compared with this relative tolerance; everything
#: else must be equal.
REL_TOL = 1e-9

#: The extractor's feature definitions, restated in SQL. days_active floors
#: the elapsed whole seconds between first and last event to days, plus one.
FEATURES_SQL = """
WITH agg AS (
  SELECT user_id,
         COUNT(event_type) AS total_events,
         COUNT(*) FILTER (WHERE value > 0) AS total_purchases,
         SUM(value) AS total_amount,
         COALESCE(AVG(value) FILTER (WHERE value > 0), 0.0) AS avg_amount,
         MAX(ts) AS last_event_time,
         MIN(ts) AS first_event_time,
         COUNT(DISTINCT event_type) AS unique_event_types,
         CAST(FLOOR((FLOOR(EPOCH(MAX(ts))) - FLOOR(EPOCH(MIN(ts)))) / 86400) + 1 AS BIGINT)
           AS days_active
  FROM read_parquet('{path}')
  GROUP BY user_id
)
SELECT *,
       CAST(total_purchases AS DOUBLE) / total_events AS purchase_rate,
       CAST(total_events AS DOUBLE) / days_active AS avg_events_per_day
FROM agg
"""


def connect() -> duckdb.DuckDBPyConnection:
    # inputs hold naive (UTC) timestamps, so no time-zone setting applies
    return duckdb.connect(config={"threads": 4})


def expected_features(con: duckdb.DuckDBPyConnection, batch_dir: str) -> dict[int, dict[str, Any]]:
    """user_id → expected served row (feature columns plus user_id)."""
    rel = con.sql(FEATURES_SQL.format(path=os.path.join(batch_dir, "events.parquet")))
    cols = rel.columns
    return {int(r[0]): dict(zip(cols, r)) for r in rel.fetchall()}


def _same(a: Any, b: Any) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=0.0)
    return a == b


def row_matches(got: dict[str, Any], want: dict[str, Any] | None) -> bool:
    """A served dict against the expected row; ``want=None`` means the id is
    absent from the version and the serve must return ``{}``."""
    if want is None:
        return got == {}
    if set(got) != set(want):
        return False
    return all(_same(got[k], want[k]) for k in want)


def _norm(v: Any) -> Any:
    if v is None:
        return None
    if isinstance(v, bool):
        return float(v)
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v) + 0.0
        return "nan" if math.isnan(f) else repr(f)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, dt.date):
        return dt.datetime(v.year, v.month, v.day).isoformat(timespec="microseconds")
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return str(v)


def canonical_rows(columns: list[str], rows: list[tuple]) -> list[tuple]:
    """Rows with columns in name order and values in a type-neutral form,
    sorted — an order-insensitive, engine-neutral representation."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


def digest(rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
    return h.hexdigest()[:16]


def oracle_rows(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[tuple]]:
    rel = con.sql(sql)
    return list(rel.columns), rel.fetchall()


def register_tables(con: duckdb.DuckDBPyConnection, data_dir: str, names: list[str]) -> None:
    for t in names:
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
