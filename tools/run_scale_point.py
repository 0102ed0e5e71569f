"""Time a named subset of registered queries at an arbitrary data dir —
the measured-scale-point runner behind BENCH_scale_r*.json / SCALE.md.

    python tools/run_scale_point.py <sf_dir> q1 q2 ...

Prints one JSON line {"sf_dir": ..., "queries": {name: sec}}. Uses the
same forcing as bench.py (count + decimal xxhash64 value sum, so column
pruning cannot under-measure) and the same JVM warm-up discipline (the
first named query's lineage is compiled untimed)."""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from bench import force, warm_jvm
from capstone_etl_spark.session import get_spark, release_caches


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    spark = get_spark("scale-point")
    qs = entrymod.queries()
    unknown = [n for n in names if n not in qs]
    assert not unknown, f"unknown queries: {unknown}"

    warm_jvm(spark, sf_dir)
    force(qs[names[0]](spark, sf_dir))
    release_caches()

    out: dict[str, float] = {}
    for name in names:
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        n = force(qs[name](spark, sf_dir))
        out[name] = round(time.perf_counter() - t0, 3)
        release_caches()
        print(f"# {name}: {out[name]:.3f}s ({n} rows)", file=sys.stderr)
    print(json.dumps({"sf_dir": sf_dir, "queries": out}))


if __name__ == "__main__":
    main()
