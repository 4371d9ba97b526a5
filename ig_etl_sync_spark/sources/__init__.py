from ig_etl_sync_spark.sources.catalog import TABLES, load_table
from ig_etl_sync_spark.sources.json_source import (
    read_json_document,
    read_json_files,
    read_json_string,
)

__all__ = [
    "TABLES",
    "load_table",
    "read_json_document",
    "read_json_files",
    "read_json_string",
]
