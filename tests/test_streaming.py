"""Structured Streaming layer: multi-batch equivalence vs batch forms,
watermark late-drop semantics, custom stateful operator."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as _t

from capstone_etl_spark.operators import events as batch_events
from capstone_etl_spark.streaming import (
    events_stream,
    run_to_memory,
    stage_events,
    stream_click_purchase_join,
    stream_dedup_counts,
    stream_session_windows,
    stream_tumbling,
)
from capstone_etl_spark.streaming.stateful import running_user_activity

SF_DIR = "/root/testdata/sf0.001"
HORIZON = "400 days"


def _pdf(df) -> pd.DataFrame:
    return df.toPandas().sort_values(list(df.columns), ignore_index=True)


def _staged_stream(spark, tmp_path, files=4, per_trigger=1):
    stage_events(spark, SF_DIR, str(tmp_path / "staging"), n_files=files)
    return events_stream(spark, str(tmp_path / "staging"), max_files_per_trigger=per_trigger)


def test_stream_tumbling_equals_batch(spark, tmp_path):
    """4 files × 1 per trigger = 4 micro-batches; incremental window
    state must converge to the batch answer."""
    stream = _staged_stream(spark, tmp_path)
    got = run_to_memory(
        stream_tumbling(stream, watermark=HORIZON), str(tmp_path / "ckpt"), "complete"
    )
    want = batch_events.tumbling_windows(spark, SF_DIR)
    pd.testing.assert_frame_equal(_pdf(got), _pdf(want))


def test_stream_dedup_equals_batch(spark, tmp_path):
    stream = _staged_stream(spark, tmp_path)
    got = run_to_memory(
        stream_dedup_counts(stream, watermark=HORIZON), str(tmp_path / "ckpt"), "complete"
    )
    want = batch_events.event_dedup(spark, SF_DIR)
    pd.testing.assert_frame_equal(_pdf(got), _pdf(want))


def test_stream_sessions_equal_batch_session_window(spark, tmp_path):
    """Streaming F.session_window == the same operator run in batch
    (session_window is batch-or-stream polymorphic)."""
    stream = _staged_stream(spark, tmp_path)
    got = run_to_memory(
        stream_session_windows(stream, watermark=HORIZON), str(tmp_path / "ckpt"), "complete"
    )
    batch = spark.read.parquet(str(tmp_path / "staging"))
    want = stream_session_windows(batch)
    pd.testing.assert_frame_equal(_pdf(got), _pdf(want))


def test_stream_stream_join_equals_batch(spark, tmp_path):
    """Stream-stream interval self-join (purchases × prior-hour clicks)
    across 4 micro-batches equals the same operator run in batch —
    pairs whose sides land in different micro-batches must still be
    emitted exactly once."""
    stream = _staged_stream(spark, tmp_path)
    got = run_to_memory(
        stream_click_purchase_join(stream, watermark=HORIZON),
        str(tmp_path / "ckpt"),
        "append",
    )
    batch = spark.read.parquet(str(tmp_path / "staging"))
    want = stream_click_purchase_join(batch)
    assert got.count() > 0
    pd.testing.assert_frame_equal(_pdf(got), _pdf(want))


def test_watermark_drops_late(spark, tmp_path):
    """A tight watermark on an out-of-order replay DROPS late rows —
    the state-bounding behavior the 400-day horizon deliberately
    disables for exact replay. Staged round-robin files each span the
    full time range, so batch 2+ is almost entirely 'late' under a
    30-minute watermark. NOTE: dropping applies in update/append modes;
    complete mode retains all state by definition."""
    stream = _staged_stream(spark, tmp_path)
    got = run_to_memory(
        stream_tumbling(stream, watermark="30 minutes"), str(tmp_path / "ckpt"), "update"
    )
    # update mode emits revised window rows per batch; counts per window
    # are monotone — max per window = that window's final count
    n_stream = (
        got.groupBy("window_start", "event_type")
        .agg(F.max("n_events").alias("n"))
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    n_batch = spark.read.parquet(str(tmp_path / "staging")).count()
    assert n_stream < n_batch


def test_stateful_running_activity(spark, tmp_path):
    """applyInPandasWithState accumulates per-user state across
    micro-batches; the final update per user equals the batch rollup."""
    stream = _staged_stream(spark, tmp_path, per_trigger=2)
    got = run_to_memory(
        running_user_activity(stream), str(tmp_path / "ckpt"), output_mode="update"
    )
    # update mode emits one row per (user, batch-touched); the running
    # count is monotone — the max row per user is the final state
    final = (
        got.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value").alias("total_value"),
            F.max("last_seen_sec").alias("last_seen_sec"),
        )
    )
    ev = spark.read.parquet(str(tmp_path / "staging"))
    want = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(F.col("value").cast("double")), 2).alias("total_value"),
        F.max(F.col("ts").cast("long")).alias("last_seen_sec"),
    )
    g = {r.user_id: r for r in final.collect()}
    w = {r.user_id: r for r in want.collect()}
    assert set(g) == set(w)
    for uid, row in w.items():
        assert g[uid].n_events == row.n_events, uid
        assert abs(g[uid].total_value - row.total_value) < 0.05, uid
        assert g[uid].last_seen_sec == row.last_seen_sec, uid


def test_stream_foreachbatch_incremental_upsert(spark, tmp_path):
    # Streaming incremental ETL: each micro-batch MERGEs into a keyed
    # snapshot via the S4 upsert sink (write-audit-swap) — last write
    # wins across batches, snapshots never rewritten in place.
    from capstone_etl_spark.sinks.writers import merge_upsert

    base = str(tmp_path / "state")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"
    ).write.parquet(base)

    staging = tmp_path / "staging"
    staging.mkdir()
    spark.createDataFrame([(2, "b2"), (3, "c")], "id long, v string").coalesce(
        1
    ).write.parquet(str(staging / "f0"))
    spark.createDataFrame([(3, "c3"), (4, "d")], "id long, v string").coalesce(
        1
    ).write.parquet(str(staging / "f1"))

    snapshots = {"cur": base, "n": 0}

    def handle(batch_df, batch_id):
        snapshots["cur"] = merge_upsert(
            batch_df.sparkSession,
            snapshots["cur"],
            batch_df,
            keys=["id"],
            out_path=str(tmp_path / f"snap_{batch_id}"),
        )
        snapshots["n"] += 1

    stream = (
        spark.readStream.schema("id long, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(staging / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)

    final = {r.id: r.v for r in spark.read.parquet(snapshots["cur"]).collect()}
    assert final == {1: "a", 2: "b2", 3: "c3", 4: "d"}
    assert snapshots["n"] >= 2  # genuinely incremental (multi-batch)
    # original snapshot untouched
    assert {r.id for r in spark.read.parquet(base).collect()} == {1, 2}


def test_source_factory_seam_rate_source(spark, tmp_path):
    """A Kafka-shaped source factory plugs into the SAME pipeline the
    file-staged oracle queries run: rate-micro-batch generator → events
    schema → stream_tumbling → memory sink. Unbounded source, so one
    micro-batch via trigger(once) instead of availableNow."""
    from capstone_etl_spark.streaming.runner import run_to_memory
    from capstone_etl_spark.streaming.source import (
        EVENTS_DDL,
        events_stream,
        rate_events_source,
    )
    from capstone_etl_spark.streaming.windows import stream_tumbling

    stream = events_stream(spark, source=rate_events_source(rows_per_batch=200))
    assert stream.isStreaming
    want = _t.StructType.fromDDL(EVENTS_DDL)
    assert [(f.name, f.dataType) for f in stream.schema] == [
        (f.name, f.dataType) for f in want
    ]  # nullability differs by source; names/types are the contract
    out = run_to_memory(
        stream_tumbling(stream, watermark="1 day"),
        str(tmp_path / "ckpt"),
        output_mode="complete",
        once=True,
    )
    rows = out.collect()
    assert sum(r["n_events"] for r in rows) == 200
    assert set(r["event_type"] for r in rows) == {"view", "click", "purchase"}


def test_events_stream_requires_dir_or_factory(spark):
    import pytest as _pytest

    from capstone_etl_spark.streaming.source import events_stream

    with _pytest.raises(ValueError):
        events_stream(spark)


def test_kafka_value_parser_roundtrip(spark):
    """parse_kafka_events on a STATIC frame with Kafka's wire shape:
    events → to_json → binary value column → parse → identical rows
    (the connector jar is deployment-only; the parse stage is the
    code under test)."""
    from capstone_etl_spark.streaming.source import parse_kafka_events

    events = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:01", 7, "view", 1.5, "{}"),
            (2, "2024-01-01 00:00:02", 8, "purchase", 99.0, '{"k":1}'),
        ],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    wire = events.select(
        F.lit(None).cast("binary").alias("key"),
        F.to_json(F.struct(*events.columns)).cast("binary").alias("value"),
        F.lit("events").alias("topic"),
        F.lit(0).alias("partition"),
        F.monotonically_increasing_id().alias("offset"),
        F.current_timestamp().alias("timestamp"),
    )
    parsed = parse_kafka_events(wire)
    assert parsed.schema.simpleString() == events.schema.simpleString()
    assert sorted(map(tuple, parsed.collect())) == sorted(map(tuple, events.collect()))


def test_stream_reservoir_equals_batch(spark):
    """The streaming reservoir's drained state must equal the batch
    reservoir_sample row-for-row (bottom-K of a union is order-free),
    and the K constants must stay in lockstep."""
    from capstone_etl_spark.operators.sampling import RESERVOIR_K, reservoir_sample
    from capstone_etl_spark.operators.streaming_queries import stream_reservoir_sample
    from capstone_etl_spark.streaming.stateful import _RESERVOIR_K

    assert _RESERVOIR_K == RESERVOIR_K
    sf = "/root/testdata/sf0.001"
    got = sorted(
        (r.source, r.doc_id, r.lang, r.rnk)
        for r in stream_reservoir_sample(spark, sf).collect()
    )
    want = sorted(
        (r.source, r.doc_id, r.lang, r.rnk)
        for r in reservoir_sample(spark, sf).collect()
    )
    assert got == want and len(got) > 0


def test_stream_decontamination_equals_batch(spark):
    """The streamed ingest-decontamination must reproduce the batch
    pass row-for-row — same thresholds, same df-cap, same scores."""
    from capstone_etl_spark.operators.dedup import benchmark_decontamination
    from capstone_etl_spark.operators.streaming_queries import stream_decontamination
    from capstone_etl_spark.session import release_caches

    sf = "/root/testdata/sf0.001"
    try:
        got = sorted(
            (r.train_doc, r.bench_doc, r.jaccard, r.containment)
            for r in stream_decontamination(spark, sf).collect()
        )
        want = sorted(
            (r.train_doc, r.bench_doc, r.jaccard, r.containment)
            for r in benchmark_decontamination(spark, sf).collect()
        )
    finally:
        release_caches()
    assert got == want and len(got) > 0


def test_stream_pii_scan_equals_batch(spark):
    """The drained streaming snapshot must equal the batch pii_scan
    row-for-row — additive counts make the stream exact."""
    from capstone_etl_spark.operators.privacy import pii_scan
    from capstone_etl_spark.operators.streaming_queries import stream_pii_scan

    sf = "/root/testdata/sf0.001"
    got = {r.source: r.asDict() for r in stream_pii_scan(spark, sf).collect()}
    want = {r.source: r.asDict() for r in pii_scan(spark, sf).collect()}
    assert got == want


def test_stream_template_extraction_equals_batch(spark):
    """The drained streaming template census must equal the batch
    miner row-for-row — count/min are additive and the collect_set
    source set collapses to the same n_sources."""
    from capstone_etl_spark.operators.dedup import template_extraction
    from capstone_etl_spark.operators.streaming_queries import (
        stream_template_extraction,
    )

    sf = "/root/testdata/sf0.001"
    got = {r.template_hash: r.asDict() for r in stream_template_extraction(spark, sf).collect()}
    want = {r.template_hash: r.asDict() for r in template_extraction(spark, sf).collect()}
    assert got == want


def test_stream_ab_test_equals_batch(spark):
    """The streaming experiment readout must equal the batch one
    row-for-row: the per-user (min view, max purchase) state pair is
    replay-order free, and both forms share events.ab_readout."""
    from capstone_etl_spark.operators.events import ab_test_analysis
    from capstone_etl_spark.operators.streaming_queries import stream_ab_test

    sf = "/root/testdata/sf0.001"
    got = {r.variant: r.asDict() for r in stream_ab_test(spark, sf).collect()}
    want = {r.variant: r.asDict() for r in ab_test_analysis(spark, sf).collect()}
    assert got == want


def test_stream_dp_histogram_equals_batch(spark):
    """The streaming DP release must equal the batch release
    row-for-row: counts are additive and the Laplace draw is a
    deterministic function of (salt, source)."""
    from capstone_etl_spark.operators.privacy import dp_source_histogram
    from capstone_etl_spark.operators.streaming_queries import stream_dp_histogram

    sf = "/root/testdata/sf0.001"
    got = {r.source: r.asDict() for r in stream_dp_histogram(spark, sf).collect()}
    want = {r.source: r.asDict() for r in dp_source_histogram(spark, sf).collect()}
    assert got == want


def test_stream_conversion_survival_equals_batch(spark):
    """The streaming KM curve must equal the batch one row-for-row:
    the per-user (first-exposure, last-event, first-qualifying-
    conversion) state merges are replay-order free (including the
    pre-exposure pending-conversion set), and both forms share
    events.km_curve."""
    from capstone_etl_spark.operators.events import conversion_survival
    from capstone_etl_spark.operators.streaming_queries import (
        stream_conversion_survival,
    )

    sf = "/root/testdata/sf0.001"
    got = {r.dur_min: r.asDict() for r in stream_conversion_survival(spark, sf).collect()}
    want = {r.dur_min: r.asDict() for r in conversion_survival(spark, sf).collect()}
    assert got == want



def test_run_harness_leaves_no_work_dirs(spark, tmp_path, monkeypatch):
    """_run deletes its staging and checkpoint directories when the
    replay succeeds AND when the query's transform raises."""
    import tempfile

    from capstone_etl_spark.operators.streaming_queries import _run

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    seen = []

    def count_types(stream, staged):
        seen.extend(p.name for p in tmp_path.iterdir())
        return stream.groupBy("event_type").count()

    got = _run(spark, SF_DIR, count_types, "complete")
    assert got.count() > 0
    assert len(seen) == 1  # the work dir existed while the query was built
    assert list(tmp_path.iterdir()) == []

    def boom(stream, staged):
        raise ValueError("transform failed")

    with pytest.raises(ValueError, match="transform failed"):
        _run(spark, SF_DIR, boom, "complete")
    assert list(tmp_path.iterdir()) == []


def test_run_harness_documents_replay_is_multi_batch(spark):
    """A documents replay through _run spans >= 2 micro-batches (4
    staged files, 2 per trigger), so the stream state is genuinely
    incremental; extra keywords (here the sink name) pass through to
    run_to_memory."""
    import threading
    import uuid

    from pyspark.sql.streaming import StreamingQueryListener

    from capstone_etl_spark.operators.streaming_queries import _run

    name = f"harness_probe_{uuid.uuid4().hex[:8]}"

    class Batches(StreamingQueryListener):
        def __init__(self):
            self.ids, self.batches, self.done = set(), 0, threading.Event()

        def onQueryStarted(self, event):
            if event.name == name:
                self.ids.add(str(event.id))

        def onQueryProgress(self, event):
            if event.progress.name == name and event.progress.numInputRows > 0:
                self.batches += 1

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            if str(event.id) in self.ids:
                self.done.set()

    listener = Batches()
    spark.streams.addListener(listener)
    try:
        got = _run(
            spark,
            SF_DIR,
            lambda s, _: s.groupBy("source").count(),
            "complete",
            table="documents",
            name=name,
        )
        assert listener.done.wait(30)
    finally:
        spark.streams.removeListener(listener)
    assert listener.batches >= 2
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert got.agg(F.sum("count")).first()[0] == n_docs
