"""Integer environment knobs degrade to their default with a warning
instead of failing the query that reads them (session.env_int)."""

from __future__ import annotations

import pytest

from capstone_etl_spark.session import env_int


def test_env_int_reads_falls_back_and_warns(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_FANOUT", raising=False)
    assert env_int("SPARK_GRAFT_FANOUT", 7) == 7
    monkeypatch.setenv("SPARK_GRAFT_FANOUT", "12")
    assert env_int("SPARK_GRAFT_FANOUT", 7) == 12
    monkeypatch.setenv("SPARK_GRAFT_FANOUT", "")
    with pytest.warns(RuntimeWarning, match="SPARK_GRAFT_FANOUT"):
        assert env_int("SPARK_GRAFT_FANOUT", 7) == 7


def test_fan_out_knob_auto_falls_back_to_default(spark, monkeypatch):
    """SPARK_GRAFT_FANOUT=auto used to raise ValueError inside every
    documents/embeddings load_table; now the scan fans out to the
    default min(shuffle partitions, 16)."""
    from capstone_etl_spark.sources.tables import _fan_out_small_scan

    monkeypatch.setenv("SPARK_GRAFT_FANOUT", "auto")
    narrow = spark.range(0, 100, 1, 1)
    with pytest.warns(RuntimeWarning, match="SPARK_GRAFT_FANOUT='auto'"):
        out = _fan_out_small_scan(spark, narrow, "mem://fanout-auto")
    default = min(int(spark.conf.get("spark.sql.shuffle.partitions")), 16)
    assert out.rdd.getNumPartitions() == default
    assert sorted(r.id for r in out.collect()) == list(range(100))


def test_stream_timeout_knob_abc_falls_back_to_default(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_STREAM_TIMEOUT_SEC=abc used to fail every stream
    query before it started; now the stream runs under the 300 s
    default guard."""
    from capstone_etl_spark.streaming.runner import run_to_memory
    from capstone_etl_spark.streaming.source import rate_events_source

    monkeypatch.setenv("SPARK_GRAFT_STREAM_TIMEOUT_SEC", "abc")
    stream = rate_events_source(rows_per_batch=50)(spark)
    with pytest.warns(RuntimeWarning, match="SPARK_GRAFT_STREAM_TIMEOUT_SEC='abc'"):
        out = run_to_memory(stream, str(tmp_path / "ckpt"), output_mode="append", once=True)
    assert out.count() == 50
