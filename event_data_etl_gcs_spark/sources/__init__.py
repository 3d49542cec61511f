from .catalog import (
    load_table,
    read_parquet_evolving,
    register_views,
)
from .json_source import read_json_events
from .parquet_sink import (
    compact_parquet_dir,
    export_jsonl,
    write_parquet_table,
    write_zordered,
)

__all__ = [
    "load_table",
    "register_views",
    "read_parquet_evolving",
    "read_json_events",
    "write_parquet_table",
    "write_zordered",
    "compact_parquet_dir",
    "export_jsonl",
]
