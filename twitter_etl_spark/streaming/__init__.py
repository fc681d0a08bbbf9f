"""Structured Streaming layer.

The reference IS a micro-batch streaming system in miniature: a
bounded chunk loop of ingest -> transform -> append (reference
``main.R:202-212``). This package reproduces it natively:

- :mod:`.microbatch` — the ETL loop as a file-source stream +
  ``foreachBatch`` running the batch flagship transform
  (``pipeline.transform_documents``) and an append, checkpointed (an
  upgrade from the reference's at-least-once to effectively-once).
  The plain, global-dedup, idempotent and rollup loops share one
  starter and differ only in their per-batch sink.
- :mod:`.windows` — event-time operators: tumbling / sliding /
  session windows with watermarks, and stateful streaming dedup.
"""

from .microbatch import (
    run_microbatch_pipeline,
    run_microbatch_pipeline_global_dedup,
    run_microbatch_pipeline_idempotent,
)
from .stateful import running_user_totals
from .windows import (
    sessionized_stream,
    windowed_countmin,
    windowed_hll_registers,
    windowed_distinct_users,
    windowed_revenue_cents,
    sliding_counts,
    stream_stream_join,
    streaming_dedup,
    tumbling_counts,
)

__all__ = [
    "run_microbatch_pipeline",
    "run_microbatch_pipeline_global_dedup",
    "run_microbatch_pipeline_idempotent",
    "running_user_totals",
    "tumbling_counts",
    "sliding_counts",
    "sessionized_stream",
    "stream_stream_join",
    "streaming_dedup",
    "windowed_countmin",
    "windowed_hll_registers",
    "windowed_distinct_users",
    "windowed_revenue_cents",
]
