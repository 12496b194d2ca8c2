"""Structured Streaming tier (SURVEY §2.10).

The reference's only incremental machinery is Glue job bookmarks
(process-only-new-files per daily run, ``terraform/glue.tf:158``).
``incremental`` reproduces those semantics exactly with a file-source
stream + ``Trigger.AvailableNow`` + checkpoint. ``windows`` adds the
event-time operators (watermarked tumbling windows, stateful dedup,
stream-static and stream-stream joins) whose batch faces are
oracle-checked in ``plans.events_windows``.
"""

from aws_lakehouse_spark.streaming.apply import (
    apply_merge_batch,
    streaming_upsert,
)
from aws_lakehouse_spark.streaming.incremental import incremental_process
from aws_lakehouse_spark.streaming.windows import (
    streaming_tumbling_counts,
    streaming_dedup,
)

__all__ = [
    "apply_merge_batch",
    "incremental_process",
    "streaming_tumbling_counts",
    "streaming_dedup",
    "streaming_upsert",
]
