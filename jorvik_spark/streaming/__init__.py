"""Structured Streaming operators (SURVEY.md §2B "Streaming-only" gap-fill).

The reference's streaming surface is source/sink + mandatory checkpoint
only (A2/A4 — /root/reference/jorvik/storage/basic.py:43-69,106-134);
this package adds the event-time operators a real streaming deployment
needs: watermarked tumbling/sliding/session window aggregation,
within-watermark dedup, a dual-watermarked stream-stream interval join,
an ``applyInPandasWithState`` custom stateful operator, and a
``foreachBatch`` MERGE sink that composes A4 + A5 into a streaming
upsert.

Every transformation here takes and returns a DataFrame, so the same
code path is exercised by the batch-twin oracle queries in
``jorvik_spark.queries.windows`` (identical window expressions) and by
the live-stream tests in ``tests/test_streaming.py``
(``trigger(availableNow=True)`` + ``processAllAvailable``).

The ``running_*`` custom stateful operators ("live twins") share one
contract, stated in ``jorvik_spark.streaming.ops``: a batch input runs
the batch branch (the same function a registered query calls, where one
exists); a streaming input runs one ``applyInPandasWithState`` scaffold
that hands a per-key ``step`` function each micro-batch's rows as numpy
columns sorted by (ts_us, event_id); the key keeps its own Spark type;
the state and output schema strings are the checkpoint format.
``tests/test_live_twins.py`` checks every operator against its batch
branch.
"""

from jorvik_spark.streaming.ops import (  # noqa: F401
    dedup_within_watermark,
    interval_join,
    interval_join_outer,
    running_user_totals,
    session_agg,
    sliding_agg,
    suggest_watermark,
    tumbling_agg,
    user_activity_summary,
    window_unique_users,
)
from jorvik_spark.streaming.sinks import (  # noqa: F401
    foreach_batch_merge,
    incremental_dedup_sink,
)

__all__ = [
    "tumbling_agg",
    "sliding_agg",
    "session_agg",
    "dedup_within_watermark",
    "interval_join",
    "interval_join_outer",
    "running_user_totals",
    "suggest_watermark",
    "user_activity_summary",
    "window_unique_users",
    "foreach_batch_merge",
    "incremental_dedup_sink",
]
