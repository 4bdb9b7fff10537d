"""Structured Streaming operators over the events stream.

The reference is batch-iterative (SURVEY §2.8) — its only stream-like
construct is the retry-after pass. A production crawl pipeline still
needs true streaming ingest for fetch logs / event feeds, so the engine
ships the standard shape: file source → event-time watermark → tumbling
window aggregation → sink. ``availableNow`` processes the full backlog
with streaming semantics (checkpointed, incremental micro-batches) and
terminates, which makes it oracle-able: the result equals the batch
windowed aggregation over the same data.

Scale notes: the windowed agg is keyed (window, event_type) — state per
key is a counter, partial-aggregated map-side; watermark bounds state
retention (late rows beyond it are dropped, state for closed windows is
evicted). At 10^10 events/day the shape is unchanged — only the state
partitions (sized from the backlog, capped by
``spark.sql.shuffle.partitions``) and the source trigger sizing move.
"""

from __future__ import annotations

import math
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F


def windowed_event_counts(
    spark: SparkSession,
    events_path: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Run the events stream through a watermarked tumbling-window
    count and return the completed result as a (batch) DataFrame.

    Uses a parquet *file streaming source* with ``availableNow`` so the
    run is finite and deterministic; the checkpoint lives in a temp dir
    (a real deployment points it at durable storage — same code path).
    """
    schema = spark.read.parquet(events_path).schema
    # the file streaming source monitors a DIRECTORY; point it at the
    # parent with a glob when given a single file
    if events_path.endswith(".parquet") and os.path.isfile(events_path):
        reader = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", os.path.basename(events_path))
        )
        stream = reader.parquet(os.path.dirname(events_path))
    else:
        stream = spark.readStream.schema(schema).parquet(events_path)
    # watermarks require TIMESTAMP (with tz); the source stores NTZ —
    # session tz is pinned UTC, so the round-trip is value-preserving
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    # stable digest, not process-salted hash() (ADVICE r1)
    import hashlib

    name = f"windowed_events_{hashlib.md5(events_path.encode()).hexdigest()[:12]}"
    run_available_now(
        agg, name, "complete", "stream_ckpt_", backlog_state_partitions(spark, events_path)
    )
    return spark.table(name)


# Without the native Hadoop library (PySpark ships none), Hadoop's local
# file system starts a process for file metadata: a `chmod` for every
# file and directory it creates, and FileContext renames add `stat` and
# `readlink` runs. Each is spawned from the driver JVM. One availableNow
# run of windowed_event_counts on the sf0.01 events (one batch, 8 state
# partitions, FileContext checkpoint manager) used ~520 new pids
# (processes and threads) and took 0.54 s; with the FileSystem-based
# manager, whose renames look up no status, and one state partition it
# uses 70-120 and takes 0.33 s (4 cores). The checkpoint is a local temp
# dir, where that manager's rename is as atomic as FileContext's.
LOCAL_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"
)
# backlog bytes per state partition, as AQE's advisory partition size
STATE_PARTITION_BYTES = 32 << 20


def backlog_state_partitions(spark: SparkSession, path: str) -> int:
    """State partitions for an availableNow run over the local file or
    directory ``path``: one per ``STATE_PARTITION_BYTES`` of backlog, at
    most ``spark.sql.shuffle.partitions``, which a path that is not local
    gets. A stateful query fixes its partition count in the checkpoint
    at its first batch, so AQE cannot coalesce it later."""
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if os.path.isfile(path):
        size = os.path.getsize(path)
    elif os.path.isdir(path):
        size = sum(
            os.path.getsize(os.path.join(root, f)) for root, _, files in os.walk(path) for f in files
        )
    else:
        return cap
    return max(1, min(cap, math.ceil(size / STATE_PARTITION_BYTES)))


def run_available_now(
    df: DataFrame, name: str, output_mode: str, ckpt_prefix: str, state_partitions: int
) -> None:
    """Run the streaming ``df`` to the end of its backlog into the memory
    table ``name``, checkpointed in a new temp dir with
    ``LOCAL_CHECKPOINT_MANAGER`` and ``state_partitions`` state
    partitions. Both are session settings that a query copies when it
    starts, so they are set for the ``start()`` call only."""
    spark = df.sparkSession
    conf = {
        "spark.sql.shuffle.partitions": str(state_partitions),
        "spark.sql.streaming.checkpointFileManagerClass": LOCAL_CHECKPOINT_MANAGER,
    }
    saved = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", tempfile.mkdtemp(prefix=ckpt_prefix))
            .trigger(availableNow=True)
            .start()
        )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    q.awaitTermination()
