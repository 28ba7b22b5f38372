"""Structured Streaming twins of the reference's stateful dataflow
(SURVEY.md §2.A #20).

The reference hand-rolls micro-batching: fold over a lazy chunk stream,
carrying {insert_list, update_list, byte buffer} and flushing every
`chunk_amount` chunks (/root/reference/lib/deduplicator.ex:24,59-82,121-144),
with cross-batch dedup state living in Postgres (the hash PK probe at :88).

Structured Streaming gives every piece natively:
- micro-batching            → trigger intervals / availableNow
- cross-batch hash state    → dropDuplicates(["hash"]) state store, or
                              dropDuplicatesWithinWatermark for bounded state
- flush-to-index            → foreachBatch append sink
- `chunk_amount` knob       → maxFilesPerTrigger / trigger processingTime

These stay UNREGISTERED in __spark_entry__ (the driver's oracle is batch SQL);
tests/test_streaming.py asserts the streaming results equal the batch
operators' output on the same data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sabd_deduplicator_spark.functions.hashing import content_hash


def stream_first_occurrence(
    spark: SparkSession,
    input_dir: str,
    schema: str = "doc_id bigint, text string",
    text_col: str = "text",
    algorithm: str = "md5",
    watermark: str | None = None,
    ts_col: str | None = None,
) -> DataFrame:
    """Streaming exact dedup: first occurrence per content hash survives,
    duplicates in later micro-batches are dropped by the state store —
    the exact streaming analog of the reference's cross-batch hash probe.

    With (ts_col, watermark) set, uses dropDuplicatesWithinWatermark so state
    is evicted after the watermark horizon — REQUIRED at 100 TB (unbounded
    dedup state does not fit anywhere); without it, state grows forever,
    which is only acceptable for bounded backfills.
    """
    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)  # the `chunk_amount` batching knob
        .parquet(input_dir)
    )
    hashed = src.withColumn("hash", content_hash(text_col, algorithm))
    if watermark and ts_col:
        return hashed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["hash"]
        )
    return hashed.dropDuplicates(["hash"])


def stream_refcounts(
    spark: SparkSession,
    input_dir: str,
    schema: str = "doc_id bigint, text string",
    text_col: str = "text",
    algorithm: str = "md5",
) -> DataFrame:
    """Streaming refs_num: running count per hash (update-mode aggregate) —
    the streaming version of hash.ex:81-103's increment loop, recomputed by
    the state store instead of point UPDATEs."""
    src = spark.readStream.schema(schema).parquet(input_dir)
    return (
        src.withColumn("hash", content_hash(text_col, algorithm))
        .groupBy("hash")
        .agg(F.count("*").alias("refs_num"))
    )


def stream_windowed_event_counts(
    spark: SparkSession,
    input_dir: str,
    schema: str = "event_id bigint, ts timestamp, event_type string, value double",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window event counts with late-data handling; with no late
    rows it equals the batch hourly group-by of `streaming_tumbling_counts`'
    oracle.

    Watermarks require TIMESTAMP (LTZ) event time — NTZ is rejected
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) — so the stream boundary casts;
    window boundaries remain wall-clock-consistent within the session.
    """
    src = spark.readStream.schema(schema).parquet(input_dir)
    return (
        src.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("win_start"),
            "event_type",
            "n",
        )
    )


def run_to_memory_sink(
    stream_df: DataFrame, name: str, output_mode: str = "append"
) -> DataFrame:
    """Drain a stream with availableNow into an in-memory table and return it
    as a batch DataFrame (test harness helper). Checkpoints on tmpfs (see
    registered.scratch_root) — per-micro-batch WAL/state fsyncs are pure
    harness I/O for a drained stream."""
    import shutil
    import tempfile

    from sabd_deduplicator_spark.streaming.registered import scratch_root

    ckpt = tempfile.mkdtemp(prefix="stream_ckpt_", dir=scratch_root())
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return stream_df.sparkSession.table(name)
