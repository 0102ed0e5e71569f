"""Phase breakdown for one events-family stream query shape (r12).

Splits the replay-harness pipeline (`streaming_queries._run`: stage →
watermark scan, which only event-time queries run → stream drain) into
timed phases with job/task counters per phase, so the stream family's
fixed per-query cost can be attributed to staging write vs micro-batch
machinery vs the drained tail. Run AFTER any
bench/gate finishes (never two Spark workloads at once).

    python tools/profile_stream_phases.py [n_reps]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from profile_queries import _exec_totals  # noqa: E402


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pyspark.sql import functions as F

    from capstone_etl_spark.session import get_spark, release_caches
    from capstone_etl_spark.streaming import events_stream, run_to_memory, stage_events

    spark = get_spark("stream-phase-profile")
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    w = spark.range(100_000).select(
        (F.col("id") % 97).alias("k"), F.md5(F.col("id").cast("string")).alias("s")
    )
    w.groupBy("k").agg(F.count("*"), F.sum(F.xxhash64("s").cast("decimal(38,0)"))).collect()

    for rep in range(reps):
        work = tempfile.mkdtemp(prefix="stream_phase_")
        marks = [("start", time.perf_counter(), _exec_totals(spark))]

        staged = stage_events(spark, sf_dir, f"{work}/staging", n_files=4)
        marks.append(("stage_write", time.perf_counter(), _exec_totals(spark)))

        lo, hi = staged.agg(
            F.min(F.col("ts").cast("long")), F.max(F.col("ts").cast("long"))
        ).first()
        marks.append(("watermark_scan", time.perf_counter(), _exec_totals(spark)))

        stream = events_stream(spark, f"{work}/staging", max_files_per_trigger=2)
        agg = stream.groupBy("event_type").agg(
            F.count("*").alias("n"), F.sum("value").alias("v")
        )
        snap = run_to_memory(agg, f"{work}/checkpoint", output_mode="complete")
        marks.append(("stream_drain", time.perf_counter(), _exec_totals(spark)))

        n = snap.count()
        marks.append(("tail_collect", time.perf_counter(), _exec_totals(spark)))

        print(f"--- rep {rep} (rows={n})", file=sys.stderr)
        for (name, t1, c1), (_, t0, c0) in zip(marks[1:], marks[:-1]):
            d = {k: c1[k] - c0[k] for k in c1} if c0 and c1 else {}
            print(f"  {name:15s} {t1 - t0:7.3f}s  {d}", file=sys.stderr)
        release_caches()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
