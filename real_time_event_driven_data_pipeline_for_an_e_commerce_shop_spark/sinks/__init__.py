from .files import read_zone_tables, write_processed_zone, write_zone_table
from .kv import KeyedParquetUpsertSink

__all__ = [
    "KeyedParquetUpsertSink",
    "read_zone_tables",
    "write_processed_zone",
    "write_zone_table",
]
