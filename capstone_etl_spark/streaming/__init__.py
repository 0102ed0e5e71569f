"""Structured Streaming layer (SURVEY.md §2.8 extension).

The reference is a one-shot batch program; the `events` table is the
designated streaming surface. Every operator here is written against a
DataFrame that may be a stream (`spark.readStream`) or a batch frame —
the same transformation compiles to an incremental plan under
Structured Streaming and a normal batch plan otherwise. Equivalence is
enforced two ways:

- pytest: each streaming form runs multi-batch (maxFilesPerTrigger=1)
  over a file-staged copy of `events` and must equal its batch form
  (tests/test_streaming.py);
- driver oracle: stream_* queries (operators/streaming_queries.py)
  replay a staged events, documents or embeddings table through one
  harness (`_run`: readStream → stateful operator → availableNow) and
  hash-compare against DuckDB SQL.
"""

from capstone_etl_spark.streaming.source import events_stream, stage_events  # noqa: F401
from capstone_etl_spark.streaming.runner import run_to_memory  # noqa: F401
from capstone_etl_spark.streaming.windows import (  # noqa: F401
    stream_click_purchase_join,
    stream_dedup_counts,
    stream_session_windows,
    stream_sliding,
    stream_tumbling,
)
