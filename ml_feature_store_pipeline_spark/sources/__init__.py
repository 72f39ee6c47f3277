from .readers import read_csv_events, read_table, read_tables
from .writers import atomic_overwrite_parquet

__all__ = [
    "read_csv_events",
    "read_table",
    "read_tables",
    "atomic_overwrite_parquet",
]
