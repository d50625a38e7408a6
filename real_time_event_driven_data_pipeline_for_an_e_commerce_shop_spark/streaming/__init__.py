from .pipeline import (
    read_manifest_zone,
    vacuum_manifest_zone,
    run_event_driven_pipeline,
)
from .windows import (
    dedup_events_stream,
    incremental_dedup_stream,
    interval_joined_events_stream,
    sessionized_stream,
    watermarked_daily_rollup,
)

__all__ = [
    "dedup_events_stream",
    "incremental_dedup_stream",
    "interval_joined_events_stream",
    "read_manifest_zone",
    "vacuum_manifest_zone",
    "run_event_driven_pipeline",
    "sessionized_stream",
    "watermarked_daily_rollup",
]
