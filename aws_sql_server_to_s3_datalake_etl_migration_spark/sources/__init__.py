"""Sources & sinks (SURVEY.md §2.1, S1–S14)."""

from .readers import (
    read_jdbc,
    read_catalog_table,
    read_parquet,
    read_delta,
    read_csv,
    read_table_dir,
    register_sf_views,
)
from .writers import (
    write_parquet,
    append_parquet,
    write_delta_append,
    write_jdbc_append,
    save_as_table,
)
from .local import create_dataframe_from_rows, create_dataframe_from_pandas

__all__ = [
    "read_jdbc",
    "read_catalog_table",
    "read_parquet",
    "read_delta",
    "read_csv",
    "read_table_dir",
    "register_sf_views",
    "write_parquet",
    "append_parquet",
    "write_delta_append",
    "write_jdbc_append",
    "save_as_table",
    "create_dataframe_from_rows",
    "create_dataframe_from_pandas",
]
