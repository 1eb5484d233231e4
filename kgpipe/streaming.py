"""Structured-streaming ingestion (SURVEY.md §2.10 — stretch beyond the
batch-only reference): stream transcript turns, deduplicate within a
watermark, run incremental mention detection per micro-batch, and keep
windowed arrival metrics. The reference's chunk-boundary cache
checkpointing (get_wikidata.py:422-428) maps to foreachBatch writes made
idempotent per batch_id (at-least-once delivery + idempotent effects =
exactly-once results); its filled-field skip (run_genre.py:201-214) maps
to processing only the new rows each micro-batch delivers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgpipe import schemas


def read_transcript_stream(spark: SparkSession, path: str,
                           fmt: str = "parquet",
                           watermark: str = "10 minutes") -> DataFrame:
    """File-source stream of transcript turns with late-data handling:
    watermark on ts + dropDuplicatesWithinWatermark on the ordering key
    (FIXTURES.md edge case 10, streamed)."""
    stream = (
        spark.readStream.format(fmt)
        .schema(schemas.TRANSCRIPTS)
        .option("maxFilesPerTrigger", 8)
        .load(path)
    )
    return (
        stream.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["conv_id", "turn_idx"])
    )


def turn_rate_metrics(turns: DataFrame, window: str = "5 minutes") -> DataFrame:
    """Event-time windowed arrival metrics (turns + mention-bearing
    turns per window/role)."""
    return (
        turns.groupBy(F.window("ts", window), "role")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
        )
    )


def incremental_mentions(turns: DataFrame, surfaces_df: DataFrame,
                         checkpoint_dir: str, out_path: str):
    """Micro-batch incremental mention detection: each batch runs the
    batch pipeline's tagger (detect_mentions_join over the surfaces
    DataFrame — no collected gazetteer, no Python worker) and writes to
    the mentions table. The broadcast decision is taken ONCE, before
    the stream starts, not probed per micro-batch. foreachBatch is only
    at-least-once, so the write must be idempotent per batch_id to get
    exactly-once *effects*: each batch overwrites its own `batch_id=N`
    subdirectory, so a micro-batch retried after a partial write
    replaces it instead of duplicating rows. Readers see batch_id as a
    partition column of out_path. Returns the StreamingQuery (caller
    awaits/stops)."""
    import os

    from kgpipe.mentions import (
        detect_mentions_join, surfaces_broadcastable, tokenize,
    )

    broadcast_dim = surfaces_broadcastable(surfaces_df)

    def process(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        m = detect_mentions_join(tokenize(batch_df), surfaces_df,
                                 broadcast_dim=broadcast_dim)
        m.write.mode("overwrite").parquet(
            os.path.join(out_path, f"batch_id={batch_id}")
        )

    return (
        turns.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# -------------------------------------------- custom stateful operator

CONV_STATE_SCHEMA = (
    "n_turns long, max_turn_idx int, n_tokens long"
)
CONV_PROGRESS_SCHEMA = (
    "conv_id string, n_turns long, max_turn_idx int, n_tokens long,"
    " complete boolean"
)


def conversation_progress(turns: DataFrame,
                          idle_timeout_ms: int | None = None) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-conversation running progress across micro-batches — turns seen,
    highest turn_idx, token volume. With `idle_timeout_ms` set, an idle
    conversation emits a final `complete=true` row and its state is
    dropped (the streaming analog of the reference's per-sentence
    completion bookkeeping, run_genre.py:201-214: a conversation is
    "done" once no new turns arrive). Measured quirk, relied on by the
    tests: under `trigger(availableNow=True)` Spark runs a final
    no-data batch in which pending processing-time timeouts fire — a
    drained stream therefore finalizes every live conversation.
    Default (None) keeps state forever: progress rows only, state
    survives query restarts from the same checkpoint.

    State is one tiny fixed-width row per LIVE conversation — the shape
    that scales: state size is O(open conversations), not O(turns), and
    Spark partitions it by conv_id with the state store handling
    persistence/recovery. Arrow-batched like every other UDF in this
    engine."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        (conv_id,) = key
        if idle_timeout_ms is not None and state.hasTimedOut:
            n_turns, max_idx, n_tokens = state.get
            state.remove()
            yield pd.DataFrame({
                "conv_id": [conv_id], "n_turns": [n_turns],
                "max_turn_idx": [max_idx], "n_tokens": [n_tokens],
                "complete": [True],
            })
            return
        n_turns, max_idx, n_tokens = state.get if state.exists else (0, -1, 0)
        for pdf in pdfs:
            n_turns += len(pdf)
            max_idx = max(max_idx, int(pdf["turn_idx"].max()))
            n_tokens += int(pdf["text"].str.split().str.len().sum())
        state.update((n_turns, max_idx, n_tokens))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame({
            "conv_id": [conv_id], "n_turns": [n_turns],
            "max_turn_idx": [max_idx], "n_tokens": [n_tokens],
            "complete": [False],
        })

    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if idle_timeout_ms is not None
               else GroupStateTimeout.NoTimeout)
    return turns.groupBy("conv_id").applyInPandasWithState(
        update,
        outputStructType=CONV_PROGRESS_SCHEMA,
        stateStructType=CONV_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )
