"""Incremental micro-batch execution.

Two freshness tiers, mirroring the reference (SURVEY §2.8):

1. `run_available_now` — Structured Streaming with
   trigger(availableNow=True) + checkpoint + foreachBatch (S14/S15):
   drain whatever is available, then stop; scheduling is external. The
   checkpoint tracks source offsets (exactly-once progress), and the
   batch function writes through LakeTable merges, which are idempotent —
   together: effectively-exactly-once.

2. `IncrementalRunner` — batch-incremental over LakeTable change feeds
   (S6 analog): consumers remember the last table version they processed
   (a JSON state file next to the consumer's output) and receive only
   data committed since. This is how silver/gold stay proportional to
   the delta, not the table — the core 100 TB scalability story.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame

from real_time_e_commerce_analytics_lakehouse_spark.tables import LakeTable


def run_available_now(
    stream_df: DataFrame,
    checkpoint_dir: str,
    batch_fn: Callable[[DataFrame, int], None],
) -> None:
    """foreachBatch sink with availableNow drain (reference
    01_bronze_csv_to_delta.py:70-77). Empty batches short-circuit (S16)."""

    def _fn(batch_df: DataFrame, epoch_id: int) -> None:
        # persist around the guard + body: isEmpty() is a real job over
        # the batch's source files, and without the cache the body's
        # action re-read them — duplicate input I/O plus an extra
        # job launch on EVERY non-empty batch, the hot ingest path
        # (r5 review). The empty-batch short-circuit itself stays (S16).
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            batch_fn(batch_df, epoch_id)
        finally:
            batch_df.unpersist()

    (
        stream_df.writeStream.foreachBatch(_fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


class IncrementalRunner:
    """Tracks per-consumer progress against LakeTable versions."""

    def __init__(self, state_dir: str):
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)

    def _state_file(self, consumer: str) -> str:
        return os.path.join(self.state_dir, f"{consumer}.json")

    def last_version(self, consumer: str) -> int | None:
        p = self._state_file(consumer)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)["version"]

    def _save(self, consumer: str, version: int) -> None:
        tmp = f"{self._state_file(consumer)}.tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"version": version}, f)
        os.replace(tmp, self._state_file(consumer))

    def process(
        self,
        consumer: str,
        source: LakeTable,
        fn: Callable[[DataFrame], None],
    ) -> bool:
        """Run `fn` over rows added to `source` since this consumer's last
        run. Progress commits only after `fn` succeeds (at-least-once; the
        downstream merge makes the retry idempotent). Returns True if a
        batch was processed."""
        since = self.last_version(consumer)
        latest = source.latest_version()
        changes = source.read_changes(since)
        if changes is None:
            if latest is not None and latest != since:
                self._save(consumer, latest)
            return False
        fn(changes)
        self._save(consumer, latest)
        return True
