from .tables import (
    TABLES,
    load_tables,
    parquet_schema,
    read_parquet,
    spread,
    table,
)

__all__ = [
    "TABLES",
    "load_tables",
    "parquet_schema",
    "read_parquet",
    "spread",
    "table",
]
