"""Structured-Streaming surface of the engine.

The reference is a pure batch loader (SURVEY.md §2.7: no streaming
surface); a continuously-arriving repository feed is the natural 100 TB
deployment, so the engine exposes:

- :func:`stream_extract` — the SAME vectorized Arrow parser running over a
  streaming source_files frame (mapInArrow is streaming-capable);
- :func:`start_incremental_ingest` — readStream -> extract -> foreachBatch
  appending routed statements into the vertical layout, checkpointed
  (exactly-once per micro-batch via the streaming checkpoint + one
  snapshot manifest per epoch = the batch pipeline's lineage contract);
- :func:`windowed_event_counts` — watermark + tumbling-window aggregation
  (late data handling) over an event stream;
- :func:`sessionize` — custom stateful operator via
  ``applyInPandasWithState`` (session-gap aggregation per user).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.extract import extract
from ..sources.fixtures import DEFAULT_GRAPH, SOURCE_FILES_SCHEMA


def stream_extract(stream_source_files: DataFrame, default_graph: str = DEFAULT_GRAPH) -> DataFrame:
    """Streaming statements frame — identical semantics to batch Stage E.

    (The batch row-count repartition is skipped automatically: streaming
    frames can't be repartitioned pre-shuffle the same way, and micro-batch
    sizing already bounds task width.)"""
    return extract(stream_source_files, default_graph)


def read_source_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int = 16
) -> DataFrame:
    return (
        spark.readStream.schema(SOURCE_FILES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def start_incremental_ingest(
    spark: SparkSession,
    source_dir: str,
    work_dir: str,
    default_graph: str = DEFAULT_GRAPH,
    available_now: bool = True,
):
    """Incremental KG ingest: every micro-batch of new source files is
    parsed and appended to ``<work_dir>/stream/statements`` partitioned by
    predicate-derived table keys. Dictionary/layout stages run as periodic
    batch compactions over the accumulated statements (the lambda-less
    pattern: streaming appends raw vertical data; the batch pipeline's
    O/M stages are idempotent over it)."""
    stream = read_source_stream(spark, source_dir)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # per-file provenance rows ride along so a later compaction can
        # rebuild the stage-E file dictionary (same shape as stage_e)
        (
            batch_df.select(
                "repo",
                "path",
                "commit",
                F.sha2(F.col("content"), 256).alias("file_sha256"),
            )
            .withColumn("file_id", F.xxhash64("file_sha256"))
            .write.mode("append")
            .parquet(f"{work_dir}/stream/files")
        )
        stmts = extract(batch_df, default_graph)
        (
            stmts.withColumn("p_part", F.xxhash64("p_iri") % 64)
            .write.mode("append")
            .partitionBy("p_part")
            .parquet(f"{work_dir}/stream/statements")
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", f"{work_dir}/stream/checkpoint")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_stream(spark: SparkSession, work_dir: str, force: bool = True):
    """Periodic batch compaction — the second half of the lambda-less
    pattern: the streamed statements under ``<work_dir>/stream`` become a
    full committed KG (stage E adopted from the stream's output, then the
    ordinary D/V/O/M batch stages, all snapshot-committed and queryable
    via the standard KgPipeline surface).

    Delivery contract: the streamed appends are AT-LEAST-ONCE — foreachBatch
    + parquet append can replay a micro-batch whose files landed but whose
    checkpoint commit didn't (crash in between), duplicating rows. Adoption
    therefore dedupes BOTH sides here (files on file_sha256, statements on
    the full row — a replayed batch rewrites byte-identical rows), so
    stage E/D counts and lineage see exactly-once data. The stage runner
    skips committed stages unless ``force``.

    Returns the compacted :class:`~r2s2_spark.pipeline.KgPipeline`.
    """
    import os

    from ..pipeline import KgPipeline

    pipe = KgPipeline(spark, os.path.join(work_dir, "compacted"), force=force)

    def adopt_e(io) -> dict:
        stmts = (
            spark.read.parquet(f"{work_dir}/stream/statements")
            .drop("p_part")
            .dropDuplicates()
        )
        files = spark.read.parquet(f"{work_dir}/stream/files").dropDuplicates(
            ["file_sha256"]
        )
        files.write.mode("overwrite").parquet(io.path("E", "files"))
        io.write_parquet("E", stmts)
        out = io.read_parquet("E")
        io.write_lineage("E", out, sha_col="file_id", sha_dict=files)
        return {"statements": out.count()}

    pipe.runner.run("E", adopt_e)
    pipe.stage_d()
    pipe.stage_v()
    pipe.stage_o()
    pipe.stage_m()
    return pipe


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window event counts with late-data watermarking — the
    streaming twin of the batch ``events_hourly_window`` query."""
    # watermarks need TIMESTAMP (LTZ); parquet event times are often NTZ
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def stream_dedup_exact(
    docs: DataFrame,
    watermark: str = "1 hour",
    ts_col: str = "ts",
    text_col: str = "text",
) -> DataFrame:
    """Streaming exact deduplication: the first document with a given
    normalized-content fingerprint passes, later copies inside the
    watermark are dropped (``dropDuplicatesWithinWatermark`` — state for a
    fingerprint is evictable once the watermark passes it, so state size
    is bounded by the dedup horizon, not the stream's lifetime; the batch
    twin is operators/dedup.exact_duplicates)."""
    from ..functions import text as text_fns

    docs = docs.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        docs.withColumn("fp", text_fns.fingerprint(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fp"])
    )


SESSION_OUTPUT_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events int, total_value double"
)
SESSION_STATE_SCHEMA = "start long, end long, n int, total double"


def _session_fn(gap_seconds: int, key, pdf_iter, state: GroupState):
    """Stateful session-gap aggregation kernel (runs per user key)."""
    import pandas as pd

    if state.hasTimedOut:
        start, end, n, total = state.get
        state.remove()
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "session_start": [pd.Timestamp(start, unit="us")],
                "session_end": [pd.Timestamp(end, unit="us")],
                "n_events": [n],
                "total_value": [round(total, 2)],
            }
        )
        return

    rows = []
    start = end = None
    n, total = 0, 0.0
    if state.exists:
        start, end, n, total = state.get
    for pdf in pdf_iter:
        pdf = pdf.sort_values("ts")
        for ts, value in zip(pdf["ts"], pdf["value"]):
            us = int(ts.value // 1000)
            if start is None:
                start, end, n, total = us, us, 1, float(value)
            elif us - end > gap_seconds * 1_000_000:
                rows.append((start, end, n, total))
                start, end, n, total = us, us, 1, float(value)
            else:
                # max/min: an out-of-order event from a later micro-batch
                # can carry ts earlier than the stored session end; moving
                # `end` backwards would falsely split the session later
                start, end = min(start, us), max(end, us)
                n, total = n + 1, total + float(value)
    if start is not None:
        state.update((start, end, n, total))
        state.setTimeoutDuration(gap_seconds * 1000)
    if rows:
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(rows),
                "session_start": [pd.Timestamp(s, unit="us") for s, _, _, _ in rows],
                "session_end": [pd.Timestamp(e, unit="us") for _, e, _, _ in rows],
                "n_events": [n_ for _, _, n_, _ in rows],
                "total_value": [round(t, 2) for _, _, _, t in rows],
            }
        )


def sessionize(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Custom stateful streaming operator: session-gap aggregation per user
    via ``applyInPandasWithState`` (closed sessions emit on gap timeout)."""
    fn = functools.partial(_session_fn, gap_seconds)
    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
