"""Run a streaming query to completion and hand back its result.

`Trigger.AvailableNow` processes everything currently in the source
(respecting maxFilesPerTrigger batching) and stops — the streaming
analogue of a batch run, with real incremental state underneath. The
memory sink holds the sink table in the driver; fine for test/driver
scales, swapped for a parquet/Kafka sink in production (the writers in
sinks/writers.py are the batch halves of that story).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession

from capstone_etl_spark.session import env_int

_COUNTER = itertools.count()


STATE_PARTITIONS = 8


def run_to_memory(
    sdf: DataFrame,
    checkpoint_dir: str,
    output_mode: str = "complete",
    name: str | None = None,
    timeout_sec: int | None = None,
    once: bool = False,
    state_partitions: int | None | str = "default",
) -> DataFrame:
    """Start sdf → memory sink, await termination, return the sink
    table. output_mode: 'complete' for aggregations, 'append' for
    dedup/map-only streams. Default trigger is availableNow (drain a
    BOUNDED source and stop); pass once=True for UNBOUNDED sources
    (rate/Kafka) where "everything available" never ends — one
    micro-batch, then stop.

    state_partitions pins spark.sql.shuffle.partitions for THIS query's
    lifetime (the setting is frozen into the state store at the first
    checkpoint): every streaming state in this repo is bounded by design
    (≈K sketch rows, |sources|/|variants| cells, df-capped candidate
    pairs — see each query's docstring), so the state-store instance
    count should track STATE size, not corpus size. At 32 instances ×
    per-trigger open/commit/snapshot cost, the fixed overhead dominated
    every stream query (~6s → ~3s measured at sf0.1 with 8); a real
    deployment sizes this to its state volume the same way. Results are
    partition-independent — the full oracle gate runs over these
    queries unchanged. The session value is restored afterwards so
    batch plans keep their configured parallelism."""
    spark: SparkSession = sdf.sparkSession
    if timeout_sec is None:
        # 300 s is a per-query hang guard sized for the sf<=0.1 test
        # tables, not a semantic limit — scale-point runs (sf1/sf10,
        # tools/run_scale_point.py) override it via the environment so
        # a legitimately-bigger drain isn't misread as a hang
        timeout_sec = env_int("SPARK_GRAFT_STREAM_TIMEOUT_SEC", 300)
    qname = name or f"mem_sink_{next(_COUNTER)}"
    writer = (
        sdf.writeStream.format("memory")
        .queryName(qname)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
    )
    writer = writer.trigger(once=True) if once else writer.trigger(availableNow=True)
    if state_partitions == "default":
        state_partitions = STATE_PARTITIONS
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = writer.start()
        try:
            if not q.awaitTermination(timeout_sec):
                raise TimeoutError(f"streaming query {qname} exceeded {timeout_sec}s")
        finally:
            if q.isActive:
                q.stop()
    finally:
        if state_partitions:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(qname)
