"""Structured-Streaming surface: incremental ingest, windows, sessions."""

import glob
import os
import time

import pytest
from pyspark.sql import functions as F

from r2s2_spark.sources import fixtures as fx
from r2s2_spark.streaming import ingest


def test_incremental_ingest_available_now(spark, tmp_path):
    src_dir = str(tmp_path / "src")
    wd = str(tmp_path / "wd")
    fx.fixture_loading(spark).write.mode("append").parquet(src_dir)

    q = ingest.start_incremental_ingest(spark, src_dir, wd)
    q.awaitTermination(120)
    stmts = spark.read.parquet(f"{wd}/stream/statements")
    assert stmts.count() == 15

    # second batch of files arrives -> only the new ones are processed
    fx.fixture_multigraph(spark).write.mode("append").parquet(src_dir)
    q2 = ingest.start_incremental_ingest(spark, src_dir, wd)
    q2.awaitTermination(120)
    stmts = spark.read.parquet(f"{wd}/stream/statements")
    assert stmts.count() == 17  # 15 + 2, NOT 32 (checkpoint dedupe)


def test_stream_extract_plan_matches_batch(spark, tmp_path):
    """The streaming extract emits the same rows as batch Stage E."""
    src_dir = str(tmp_path / "src")
    fx.fixture_oddeven(spark).write.parquet(src_dir)
    stream = ingest.read_source_stream(spark, src_dir)
    out = ingest.stream_extract(stream)
    assert out.isStreaming
    q = (
        out.writeStream.format("memory")
        .queryName("stream_extract_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select count(*) n from stream_extract_t").first()["n"]
    assert got == 99


def test_windowed_event_counts_stream(spark, tmp_path):
    """Watermark + tumbling window over a file stream equals the batch
    aggregation on the same data (availableNow processes everything)."""
    ev_dir = str(tmp_path / "ev")
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.write.parquet(ev_dir)
    stream = spark.readStream.schema(events.schema).parquet(ev_dir)
    agg = ingest.windowed_event_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("win_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.hour_start, r.event_type): (r.n, r.total_value)
        for r in spark.sql("select * from win_t").collect()
    }
    expect = {
        (r.hour_start, r.event_type): (r.n, r.total_value)
        for r in (
            events.groupBy(
                F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                    "hour_start"
                ),
                "event_type",
            )
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
            .collect()
        )
    }
    # watermark holds back the final open window(s) in availableNow mode;
    # everything emitted must match batch exactly and cover most windows
    assert got and all(expect[k] == v for k, v in got.items())
    assert len(got) >= len(expect) - 4


def test_sessionize_stateful(spark, tmp_path):
    """applyInPandasWithState session-gap aggregation over a rate-limited
    replay of the events table (batch-checked session boundaries)."""
    ev_dir = str(tmp_path / "ev")
    events = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .where(F.col("user_id") < 2)
        .select("user_id", "ts", "value")
    )
    events.write.parquet(ev_dir)
    stream = spark.readStream.schema(events.schema).parquet(ev_dir)
    sessions = ingest.sessionize(stream, gap_seconds=600)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess_t")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # availableNow + ProcessingTimeTimeout never quiesces: the timeout
    # keeps no-data batches running after the data is exhausted. The
    # first no-data batch (start offset == end offset) comes after every
    # data batch has committed, and event-closed sessions are all emitted
    # in the data batches; stop there
    def drained():
        src = (q.lastProgress or {"sources": [{}]})["sources"][0]
        return src.get("startOffset") is not None and src["startOffset"] == src["endOffset"]

    for _ in range(240):
        if drained():
            break
        time.sleep(0.5)
    q.stop()
    got = spark.sql("select * from sess_t").collect()
    # closed sessions only (state holds the trailing open session per user);
    # every emitted session must respect the gap invariant
    for r in got:
        assert r.session_start <= r.session_end
        assert r.n_events >= 1
    # batch oracle: number of gap-breaks per user bounds session count
    pdf = events.toPandas().sort_values(["user_id", "ts"])
    closed = 0
    for uid, grp in pdf.groupby("user_id"):
        gaps = grp["ts"].diff().dt.total_seconds() > 600
        closed += int(gaps.sum())  # sessions closed by a following event
    assert len(got) == closed


def test_stream_dedup_exact(spark, tmp_path):
    """Streaming exact dedup: duplicate fingerprints within the watermark
    are dropped; distinct documents pass (dropDuplicatesWithinWatermark —
    state bounded by the horizon, the streaming twin of
    dedup.exact_duplicates)."""
    src = str(tmp_path / "docs")
    rows = [
        (1, "2024-01-01 10:00:00", "alpha beta"),
        (2, "2024-01-01 10:01:00", "ALPHA   beta"),  # same normalized fp
        (3, "2024-01-01 10:02:00", "gamma delta"),
        (4, "2024-01-01 10:03:00", "alpha beta"),  # dup again
    ]
    spark.createDataFrame(rows, "doc_id bigint, ts string, text string").write.parquet(src)
    stream = (
        spark.readStream.schema("doc_id bigint, ts string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    deduped = ingest.stream_dedup_exact(stream)
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.doc_id for r in spark.sql("SELECT doc_id FROM dedup_out").collect()}
    assert len(got) == 2
    assert 3 in got and len(got & {1, 2, 4}) == 1  # exactly one alpha-beta copy


def test_compact_stream_to_full_kg(spark, tmp_path):
    """Lambda-less loop closed: streamed statements compact into a full
    committed KG (E adopted from the stream, then D/V/O/M) whose
    reconstructed triples equal the batch pipeline's on the same input."""
    from tests.test_pipeline_ev import expected_triples_loading, reconstructed_set

    src_dir = str(tmp_path / "src")
    wd = str(tmp_path / "wd")
    fx.fixture_loading(spark).write.mode("append").parquet(src_dir)
    q = ingest.start_incremental_ingest(spark, src_dir, wd)
    q.awaitTermination(120)

    pipe = ingest.compact_stream(spark, wd)
    assert pipe.io.is_committed("M")
    got = reconstructed_set(pipe)
    assert got == expected_triples_loading()
    # and the compacted KG is queryable through the standard surface
    assert {r.type for r in pipe.distinct_types().collect()} == {
        "http://www.w3.org/1999/02/22-rdf-syntax-ns#Alt",
        "http://www.w3.org/1999/02/22-rdf-syntax-ns#Bag",
    }
