"""Per-query isolation profiler (optimization rounds).

Times each named query in a FRESH SparkSession (one process per query
when --fork, else one shared session), using the exact bench forcing
(count + xxhash64 decimal sum over every column), and optionally dumps
the formatted plan. Separates "cold fresh-session time" from the
bench's long-session time so session-accumulation effects (JIT/code
cache, GC pressure) can be told apart from genuine plan cost. The
forcing, the warm-up and the deterministic counters are bench.py's.

    python tools/profile_queries.py q1 q2 ...          # shared session
    python tools/profile_queries.py --fork q1 q2 ...   # fresh JVM each
    python tools/profile_queries.py --plan q1          # also dump plan
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _exec_totals, force, warm_jvm  # noqa: E402


def _time_one(spark, qs, name: str, sf_dir: str, plan: bool, metrics: dict | None = None):
    from capstone_etl_spark.session import release_caches

    before = _exec_totals(spark) if metrics is not None else None
    t0 = time.perf_counter()
    force(qs[name](spark, sf_dir))
    sec = round(time.perf_counter() - t0, 3)
    if metrics is not None:
        after = _exec_totals(spark)
        if before is not None and after is not None:
            metrics[name] = {k: after[k] - before[k] for k in after}
    if plan:
        # plans go to STDERR (ADVICE r11): stdout is reserved for the
        # single JSON result line the fork-mode parent parses
        df2 = qs[name](spark, sf_dir)
        print(df2._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")),
            file=sys.stderr)
        release_caches()
    release_caches()
    return sec


def main() -> None:
    args = [a for a in sys.argv[1:]]
    fork = "--fork" in args
    plan = "--plan" in args
    warm = "--warm" in args  # run each query twice, report both
    names = [a for a in args if not a.startswith("--")]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    if fork:
        out = {}
        for n in names:
            env = dict(os.environ)
            r = subprocess.run(
                [sys.executable, os.path.abspath(__file__)] + ([ "--warm" ] if warm else []) + [n],
                capture_output=True, text=True, env=env,
            )
            line = [l for l in r.stdout.splitlines() if l.startswith("{")]
            if line:
                out.update(json.loads(line[-1]))
            else:
                out[n] = None
                print(r.stdout[-2000:], r.stderr[-2000:], file=sys.stderr)
            print(f"# {n}: {out.get(n)}", file=sys.stderr)
        print(json.dumps(out))
        return

    import __spark_entry__ as entrymod
    from capstone_etl_spark.session import get_spark

    spark = get_spark("profile")
    qs = entrymod.queries()
    # same warmup as bench.py so first-query codegen is not charged
    warm_jvm(spark, sf_dir)

    out = {}
    mx: dict = {}
    for n in names:
        sec = _time_one(spark, qs, n, sf_dir, plan, metrics=mx)
        out[n] = sec
        if warm:
            out[n + "__warm"] = _time_one(spark, qs, n, sf_dir, False)
        print(f"# {n}: {out[n]}s" + (f" warm {out[n + '__warm']}s" if warm else ""), file=sys.stderr)
    for n, m in mx.items():
        out[n + "__metrics"] = m
    print(json.dumps(out))


if __name__ == "__main__":
    main()
