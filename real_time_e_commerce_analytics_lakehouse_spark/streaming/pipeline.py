"""Incremental micro-batch execution.

Two freshness tiers, mirroring the reference (SURVEY §2.8):

1. `run_available_now` — Structured Streaming with
   trigger(availableNow=True) + checkpoint + foreachBatch (S14/S15):
   drain whatever is available, then stop; scheduling is external. The
   checkpoint tracks source offsets (exactly-once progress), and the
   batch function writes through LakeTable merges, which are idempotent —
   together: effectively-exactly-once. A file source need not start a
   stream at all: `unseen_listing` compares its files (name, size,
   mtime) with the listing `record_listing` kept in the checkpoint dir
   at the last successful drain, and returns None when nothing landed.

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


def _file_listing(source_dir: str) -> list[list]:
    """[relative path, size, mtime in ns] of every file under `source_dir`."""
    out = []
    for root, _, files in os.walk(source_dir):
        for name in files:
            path = os.path.join(root, name)
            st = os.stat(path)
            out.append([os.path.relpath(path, source_dir), st.st_size, st.st_mtime_ns])
    return sorted(out)


def _write_json(path: str, doc: object) -> None:
    """Atomic JSON write: a temp file renamed over `path`."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(doc, f)
    os.replace(tmp, path)


def _listing_file(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, "source_listing.json")


def unseen_listing(source_dir: str, checkpoint_dir: str) -> list[list] | None:
    """The listing (name, size, mtime) of the files under `source_dir`,
    or None when it equals the one `record_listing` kept in
    `checkpoint_dir` at the last successful drain: a file stream over
    `source_dir` would find nothing new, so none need start. Take it
    BEFORE the stream starts, so that a file landing mid-drain is not
    recorded as seen."""
    listing = _file_listing(source_dir)
    path = _listing_file(checkpoint_dir)
    if os.path.exists(path):
        with open(path) as f:
            if json.load(f) == listing:
                return None
    return listing


def record_listing(checkpoint_dir: str, listing: list[list]) -> None:
    """Keep `listing` inside the checkpoint dir, after the drain it
    preceded succeeded: deleting the checkpoint resets it too."""
    _write_json(_listing_file(checkpoint_dir), listing)


class IncrementalRunner:
    """Tracks per-consumer progress against LakeTable versions: one JSON
    doc per consumer in `state_dir`, `{"version": v}` for a `process`
    consumer (pipelines/olist's gold and metrics units keep the input
    versions they read in theirs)."""

    def __init__(self, state_dir: str):
        self.state_dir = state_dir
        os.makedirs(state_dir, exist_ok=True)

    def _state_file(self, consumer: str) -> str:
        return os.path.join(self.state_dir, f"{consumer}.json")

    def state(self, consumer: str) -> dict | None:
        """The doc `save` last kept for `consumer`, or None."""
        p = self._state_file(consumer)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def save(self, consumer: str, doc: dict) -> None:
        _write_json(self._state_file(consumer), doc)

    def last_version(self, consumer: str) -> int | None:
        doc = self.state(consumer)
        return None if doc is None else doc["version"]

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
                self.save(consumer, {"version": latest})
            return False
        fn(changes)
        self.save(consumer, {"version": latest})
        return True
