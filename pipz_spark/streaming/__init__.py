"""Structured Streaming layer (SURVEY §7.1 M4).

The reference is a synchronous request-scoped library; its streaming
concerns are OPERATIONAL (rate limiting ratelimiter.go, breaker state
circuitbreaker.go, fire-and-forget scaffold.go). Spark-native
equivalents live here: file/rate sources with trigger throttling,
watermarked tumbling/sliding/session windows over `events`, stateful
per-key operators, and a foreachBatch runner that applies a Step
pipeline per micro-batch with dead-letter split + control-plane
wrapping (breaker/limiter around the sink action).
"""

from .streams import (
    dedupe_stream,
    read_events_stream,
    run_step_stream,
    running_totals,
    session_window_agg,
    stream_stream_join,
    windowed_agg,
)

__all__ = [
    "dedupe_stream",
    "read_events_stream",
    "run_step_stream",
    "running_totals",
    "session_window_agg",
    "stream_stream_join",
    "windowed_agg",
]
