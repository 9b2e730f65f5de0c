"""Streaming runner: the same Pipeline plan over a streaming source.

Design: ``foreachBatch`` — each micro-batch goes through the IDENTICAL
batch fan-out path (``Pipeline.run`` with the batch id as run id), so sink
tables, metrics and lineage are one code path for batch and streaming, and
exactly-once lands on the catalog's commit atomicity + Spark's checkpointed
batch ids (a replayed batch reuses its run_id → the lineage table makes the
re-append detectable/idempotent). This mirrors the reference's publisher:
the queue hands batches to one output path regardless of input
(libbeat/publisher/pipeline/consumer.go:70).

Event-time extra for late data (not needed by the batch contract but
provided): ``windowed_counts`` — watermarked tumbling-window counts per
sink, the streaming analogue of the pipeline_metrics table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming import StreamingQuery


def run_stream(pipe, source: DataFrame, checkpoint: str,
               trigger_seconds: int | None = None) -> StreamingQuery:
    """source (readStream DF) → micro-batch fan-out via the batch pipeline."""
    import hashlib

    import os

    # batch ids are only unique PER CHECKPOINT; scope the run id by the
    # checkpoint identity, otherwise a second stream (fresh checkpoint)
    # against the same warehouse collides with the first stream's batch 0
    # in the lineage table, is mistaken for a replay, and silently DROPS
    # its first batches. The path is CANONICALIZED first: a relative
    # 'ckpt' resolves to different directories from different CWDs (same
    # hash, different stream — dropped batches) while 'ckpt' vs
    # '/abs/ckpt' is the same directory (different hash — replayed batch
    # double-appends).
    norm = checkpoint if "://" in checkpoint else os.path.abspath(checkpoint)
    stream_id = hashlib.sha256(norm.encode()).hexdigest()[:8]
    seen_runs: set[str] | None = None  # lazy-loaded once, then O(1)/batch
    replay_checked = False  # only the FIRST unseen batch per (re)start can
    # have a partially-committed prior attempt; batches created later in
    # this same process are fresh, so per-batch rollback scans (O(total
    # snapshots) each) would be guaranteed no-ops

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal seen_runs, replay_checked
        run_id = f"stream-{stream_id}-{batch_id:08d}"
        cat = pipe.catalog
        from beats_spark.pipeline import LINEAGE_TABLE

        # idempotent replay: committed batch ids are loaded from lineage
        # ONCE per (re)start and tracked driver-side afterwards — re-reading
        # the whole lineage table every micro-batch would cost O(batches)
        # per batch over the stream's lifetime
        if seen_runs is None:
            seen_runs = (set(cat.read_arrow(LINEAGE_TABLE, ["run_id"])["run_id"]
                             .to_pylist())
                         if cat.exists(LINEAGE_TABLE) else set())
        if run_id in seen_runs:
            return
        # a PARTIALLY committed earlier attempt (crashed between sink
        # adoption and the lineage commit) would double-append on replay;
        # rollback_run removes its snapshots + staging debris and is a
        # no-op for an unknown run_id — so the replay is exactly-once
        if not replay_checked:
            cat.rollback_run(run_id)
            replay_checked = True
        pipe.run(batch_df, run_id=run_id,
                 source_snapshots=[run_id], source_table="_stream")
        seen_runs.add(run_id)

    w = source.writeStream.foreachBatch(handle).option(
        "checkpointLocation", checkpoint
    )
    if trigger_seconds:
        w = w.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        w = w.trigger(availableNow=True)
    return w.start()


def windowed_counts(routed: DataFrame, window: str = "1 minute",
                    watermark: str = "2 minutes") -> DataFrame:
    """Streaming per-sink counts with late-data handling: watermarked
    tumbling windows (the events_routed metric as a live stream)."""
    return (
        routed.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("_sink"))
        .agg(F.count("*").alias("events_routed"))
        .select(F.col("w.start").alias("window_start"), "_sink", "events_routed")
    )
