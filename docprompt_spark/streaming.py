"""Structured Streaming surface.

The reference is batch-only (SURVEY.md §2.10: its incremental story is the
checkpoint/resume cache, which :mod:`docprompt_spark.pipeline` reproduces
exactly). This module adds the streaming shapes a continuously-fed corpus
needs on Spark:

* :func:`stream_extraction` — incremental document ingest: a file-source
  stream over the docs table, extraction per micro-batch via ``foreachBatch``
  through the same no-checkpoint path as ``pipeline.run_extraction`` (correct
  because one row = one whole document: neither the in-kernel assembly nor
  the skew tail's per-doc window/groupBy spans micro-batches). Exactly-once
  OUTPUT: each micro-batch writes its own ``batch_id=`` partition with
  dynamic partition overwrite, so a batch re-run after a partial failure
  replaces its partition instead of appending duplicates (the checkpoint's
  offset log guarantees the same batch_id sees the same input rows on
  replay).
* :func:`windowed_event_counts` — watermark + tumbling-window aggregation
  over an event stream (late-data tolerant), the streaming analog of the
  sessionization operator family (W1).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_extraction(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Continuously extract span sequences from documents arriving as parquet
    files in ``input_dir``. Returns the started StreamingQuery."""
    from docprompt_spark import pipeline

    stream = (
        spark.readStream.schema(pipeline.DOCS_SCHEMA)
        .option("maxFilesPerTrigger", "8")
        .parquet(input_dir)
        .select("doc_id", "pdf", "n_pages")
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        result = pipeline.run_extraction(spark, batch_df)
        # idempotent replay: overwrite ONLY this batch's partition
        (
            result.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(output_dir)
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(
    events_stream: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type (late events beyond
    the watermark are dropped deterministically)."""
    return (
        events_stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias(
                "total_value"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_event_counts(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    query_name: str = "event_counts",
    schema=None,
):
    """File-source event stream → watermarked windowed counts into an
    in-memory sink (for tests/demo; swap for a parquet/Kafka sink in prod)."""
    schema = schema or spark.read.parquet(input_dir).schema
    stream = spark.readStream.schema(schema).parquet(input_dir)
    agg = windowed_event_counts(stream)
    return (
        agg.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: cross-batch sessionization (W1, streaming form)
# ---------------------------------------------------------------------------

SESSION_OUTPUT_SCHEMA = (
    "user_id long, session_start double, session_end double, n_events long"
)
SESSION_STATE_SCHEMA = "start double, last double, n long"


def _sessionize_fn(gap_seconds: float):
    """applyInPandasWithState kernel: per-user session fold. State carries
    the OPEN session across micro-batches; a gap > ``gap_seconds`` closes
    it and emits one row. Open sessions stay in state (emitted only when a
    later batch closes them) — deterministic without wall-clock timeouts."""

    def fn(key, pdf_iter, state):
        import pandas as pd

        (user_id,) = key
        if state.exists:
            start, last, n = state.get
        else:
            start = last = None
            n = 0
        out = []
        # Collect the WHOLE micro-batch before folding: a user's events may
        # arrive split across multiple Arrow chunks in arbitrary order, and
        # the batch kernel (sessionize_events) orders globally by ts — a
        # per-chunk sort would merge out-of-order chunks into the open
        # session and move session_end backwards.
        all_ts = [float(t) for pdf in pdf_iter for t in pdf["ts"]]
        for ts in sorted(all_ts):
            if start is None:
                start, last, n = ts, ts, 1
            elif ts - last > gap_seconds:
                out.append((user_id, start, last, n))
                start, last, n = ts, ts, 1
            else:
                last = ts
                n += 1
        state.update((start, last, n))
        if out:
            yield pd.DataFrame(
                out, columns=["user_id", "session_start", "session_end", "n_events"]
            )

    return fn


def stateful_sessionize(
    events_stream: DataFrame, gap_seconds: float = 30.0
) -> DataFrame:
    """W1 sessionization as a CUSTOM STATEFUL streaming operator
    (``applyInPandasWithState`` — the arbitrary-state API the north star
    names): state is one open session per user, shuffled by user_id, so a
    session spanning micro-batches closes with the exact same boundaries
    the batch kernel (`sessionize_events`) would produce."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events_stream.select("user_id", F.col("ts").cast("double").alias("ts"))
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn(gap_seconds),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_sessionize(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    query_name: str = "sessions",
    gap_seconds: float = 30.0,
):
    """File-source event stream → stateful sessionization into a memory
    sink; one micro-batch per input file (maxFilesPerTrigger=1) so state
    genuinely carries across batches."""
    schema = spark.read.parquet(input_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    return (
        stateful_sessionize(stream, gap_seconds)
        .writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# Streaming exact dedup: drop duplicate documents at ingest time
# ---------------------------------------------------------------------------


def dedup_documents(
    docs_stream: DataFrame,
    watermark: str = "1 hour",
    ts_col: str = "ingest_ts",
) -> DataFrame:
    """Ingest-time exact dedup — the streaming form of the batch
    content-hash dedup (`queries.dedup_exact_groups`): documents whose
    md5(text) was already seen within the watermark horizon are dropped,
    so a crawler re-delivering the same page never double-feeds the
    training corpus. `dropDuplicates` keeps per-key state in the state
    store; the watermark bounds that state (and therefore memory) at
    scale — without it, 10^12 keys would accumulate forever."""
    return (
        docs_stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
        .withColumn("content_hash", F.md5("text"))
        .withWatermark(ts_col, watermark)
        .dropDuplicates(["content_hash"])
    )


def stream_dedup_documents(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
):
    """File-source document stream → watermarked exact dedup → append
    parquet sink, exactly-once per input file via the checkpoint."""
    schema = spark.read.parquet(input_dir).schema
    stream = spark.readStream.schema(schema).parquet(input_dir)
    deduped = dedup_documents(stream)
    return (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
