"""The repository's benchmark: one workload, one closed-loop client, one
Python process driving Spark at local[nproc].

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

A run generates its inputs from the seed (cached per seed), computes the
DuckDB oracle results once (cached), starts the Spark session, runs one
cold pass over the workload's operations and then warm passes: at
least MIN_WARM of them and at least S seconds. Every pass's results
are checked against the oracle. The last
stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones (setup_s, job_s,
rows_per_s); with --trace 1 untraced and traced warm passes interleave
(TRACE_PATTERN) and the metrics are the per-layer ones
(perfbench/trace.py), the cold pass time and trace.overhead_frac. A
full result with its fingerprint (seed, scale, nproc, code revision,
Spark/Java/Python versions) and the count of memory-sink tables left
behind after release_caches() is written to perfbench/.work/results/;
perfbench/compare.py compares two of them. The exit code is 1 when any
operation failed: an exception, a timeout or an oracle mismatch.
"""

from __future__ import annotations

import argparse
import dataclasses
import hashlib
import json
import os
import platform
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

T_START = time.perf_counter()
ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / "perfbench" / ".work"
sys.path.insert(0, str(ROOT))  # run as a script from the checkout root

import pyarrow.parquet as pq  # noqa: E402
import pyspark  # noqa: E402
from pyspark import SparkContext  # noqa: E402

import __spark_entry__ as entry  # noqa: E402
from capstone_etl_spark import session  # noqa: E402
from capstone_etl_spark.sinks import writers  # noqa: E402
from perfbench import check, gen  # noqa: E402
from perfbench.trace import NullTracer, Tracer, self_times  # noqa: E402
from perfbench.workloads import WORKLOADS, WRITE_OUTPUTS  # noqa: E402

# warm passes per run, at least; job_s is their median. Pass times
# still fall over the first warm passes (JIT warm-up), so the count,
# not only --seconds, must be fixed for runs to be comparable. Two: on
# a 4-core host one warm pass varied by 0.20-0.28 of its median over
# ten seeds (quartile distance), and a third would not fit the 4 + 22
# runs per workload of a full evaluation into its time budget, where a
# cold pass alone took 19-38 s.
MIN_WARM = 2
# traced runs interleave untraced (U) and traced (T) warm passes; the
# traced pass sits between two untraced ones, so a linear warm-up trend
# cancels out of the overhead ratio
TRACE_PATTERN = "UTU"
OP_TIMEOUT_S = 90     # one operation longer than this is cancelled and failed
DEADLINE_S = 150      # no pass starts that could end after this (runs end < 180 s)
# engine settings read from the environment; cleared so every run uses
# the engine defaults whatever the caller's shell holds. Two are set:
# the core count (SPARK_GRAFT_CPUS, to local[nproc]) and the streaming
# hang guard (SPARK_GRAFT_STREAM_TIMEOUT_SEC, 300 s by default), cut to
# OP_TIMEOUT_S so a hung stream fails its operation inside the run's
# time limit; a stream that does not hang never reaches either value.
ENGINE_ENV = (
    "SPARK_GRAFT_SHUFFLE",
    "SPARK_GRAFT_FANOUT",
    "SPARK_GRAFT_MAX_RESULT",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_DRIVER_MEM",
)

END_TO_END_UNITS = {"setup_s": "s", "job_s": "s", "rows_per_s": "1/s"}


@dataclass
class PassResult:
    job_s: float
    attempted: int
    problems: dict[str, list[str]]
    traced: bool = False
    layers: dict[str, float] = field(default_factory=dict)
    check_s: float = 0.0
    leaked_mem_sinks: int = 0


def _elapsed() -> float:
    return time.perf_counter() - T_START


def _prepare_env(nproc: int) -> None:
    """Keep every file Spark, the JVM and the engine write inside the
    benchmark's work directory, and clear what an earlier run left."""
    for d in ("tmp", "spark-local", "out", "warehouse"):
        shutil.rmtree(WORK / d, ignore_errors=True)
        (WORK / d).mkdir(parents=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    for k in ENGINE_ENV:
        os.environ.pop(k, None)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_STREAM_TIMEOUT_SEC"] = str(OP_TIMEOUT_S)
    java_opts = f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's own launcher JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf",
            shlex.quote(f"spark.sql.warehouse.dir={WORK / 'warehouse'}"),
            "--driver-java-options",
            shlex.quote(java_opts),
            "pyspark-shell",
        ]
    )


def _stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


@contextmanager
def _watchdog(spark, timeout_s: float):
    """Cancel every Spark job if one operation runs past its timeout."""
    timer = threading.Timer(timeout_s, spark.sparkContext.cancelAllJobs)
    timer.daemon = True
    timer.start()
    t0 = time.perf_counter()
    try:
        yield
    finally:
        timer.cancel()
    if time.perf_counter() - t0 > timeout_s:
        raise TimeoutError(f"operation exceeded {timeout_s}s")


def _dir_stats(path: Path) -> tuple[int, int]:
    files = [p for p in path.rglob("*") if p.is_file() and not p.name.startswith((".", "_"))]
    return sum(p.stat().st_size for p in files), len(files)


def _code_revision() -> dict[str, str | None]:
    sha = None
    if (ROOT / ".git").exists():  # a plain source checkout has no git metadata
        try:
            sha = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
            ).stdout.strip() or None
        except OSError:
            pass
    h = hashlib.sha256()
    srcs = sorted((ROOT / "capstone_etl_spark").rglob("*.py")) + [ROOT / "__spark_entry__.py"]
    srcs += sorted((ROOT / "perfbench").glob("*.py"))
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    return {"git_sha": sha, "tree_sha": h.hexdigest()[:16]}


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Bench:
    def __init__(self, spark, wl, sf_dir: Path, expected, nproc: int) -> None:
        self.spark = spark
        self.wl = wl
        self.sf = str(sf_dir)
        self.expected = expected
        self.nproc = nproc
        self.queries = entry.queries()

    def run_pass(self, no: int, tracer) -> PassResult:
        spark, wl = self.spark, self.wl
        traced = isinstance(tracer, Tracer)
        out_dir = WORK / "out" / f"pass{no}"
        got, errors = {}, {}
        sinks_before = self._mem_sinks()
        if traced:
            tracer.pass_no = no
            tracer.progress.reset()
            tracer.stage_totals()  # mark earlier stages as seen
            jobs0 = tracer.jobs_started()
        t0 = time.perf_counter()
        for op in wl.ops:
            try:
                with _watchdog(spark, OP_TIMEOUT_S):
                    if op == WRITE_OUTPUTS:
                        with tracer.span("sinks.write_outputs", count_jobs=True):
                            writers.write_outputs(spark, self.sf, str(out_dir))
                    else:
                        with tracer.span(f"op.{op}.build", count_jobs=True):
                            df = self.queries[op](spark, self.sf)
                        with tracer.span(f"op.{op}.materialize"):
                            got[op] = df.toPandas()
            except Exception as e:  # noqa: BLE001 - any failure of the program counts against it
                errors[op] = [f"{type(e).__name__}: {str(e)[:500]}"]
            finally:
                session.release_caches()
        job_s = time.perf_counter() - t0

        # ---- outside the timed region: layer counters, checks, hygiene
        layers: dict[str, float] = {}
        if traced:
            layers = self._layers(tracer, no, job_s, jobs0, out_dir)
        # written collections are read back and compared in full on the
        # last of the minimum warm passes, and checked by row count on
        # the others (a read-back costs Spark jobs)
        compared = tuple(op for op in wl.ops if op not in errors)
        if WRITE_OUTPUTS in compared:
            try:
                if no == MIN_WARM:
                    got.update(check.read_back_collections(spark, self.sf, str(out_dir)))
                else:
                    compared = tuple(op for op in compared if op != WRITE_OUTPUTS)
                    if bad := check.written_row_problems(str(out_dir), self.expected):
                        errors[WRITE_OUTPUTS] = bad
            except Exception as e:  # noqa: BLE001
                errors[WRITE_OUTPUTS] = [f"read-back: {type(e).__name__}: {str(e)[:500]}"]
        problems = {**check.failed_ops(compared, got, self.expected), **errors}
        leaked = spark.sparkContext._jsc.getPersistentRDDs().size()
        if leaked:
            problems["release_caches"] = [f"{leaked} RDDs still persisted"]
        # memory-sink tables this pass left behind after release_caches()
        # (the engine never drops them): reported by every run, left in
        # place so the program's own memory use is what is measured
        leaked_sinks = len(self._mem_sinks() - sinks_before)
        if traced:
            layers["session.leaked_rdds"] = leaked
            layers["session.leaked_mem_sinks"] = leaked_sinks
        shutil.rmtree(out_dir, ignore_errors=True)
        check_s = time.perf_counter() - t0 - job_s
        return PassResult(job_s, len(wl.ops), problems, traced, layers, check_s, leaked_sinks)

    def _mem_sinks(self) -> set[str]:
        return {t.name for t in self.spark.catalog.listTables() if t.name.startswith("mem_sink_")}

    def _layers(self, tracer, no: int, job_s: float, jobs0: int, out_dir: Path) -> dict[str, float]:
        spans = tracer.pass_spans(no)

        def total(name: str) -> float:
            return sum(s.end - s.start for s in spans if s.name == name)

        def calls(name: str) -> int:
            return sum(1 for s in spans if s.name == name)

        n_streams = calls("streaming.run_to_memory")
        tracer.progress.wait_terminated(n_streams)
        st = tracer.stage_totals()
        prog = tracer.progress
        builds = [s for s in spans if s.name.startswith("op.") and s.name.endswith(".build")]
        mats = [s for s in spans if s.name.startswith("op.") and s.name.endswith(".materialize")]
        writes = [s for s in spans if s.name == "sinks.write_outputs"]
        out_bytes, out_files = _dir_stats(out_dir) if WRITE_OUTPUTS in self.wl.ops else (0, 0)
        m = {
            "sources.load_table.calls": calls("sources.load_table"),
            "sources.load_table_s": total("sources.load_table"),
            "sources.load_dictionary_s": total("sources.load_dictionary"),
            "sources.input_bytes": st["input_bytes"],
            "operators.build_s": sum(s.end - s.start for s in builds),
            "operators.build_jobs": sum(s.jobs for s in builds),
            "operators.materialize_s": sum(s.end - s.start for s in mats),
            "session.checkpoint_truncate.calls": calls("session.checkpoint_truncate"),
            "session.checkpoint_truncate_s": total("session.checkpoint_truncate"),
            "session.cached.calls": calls("session.cached"),
            "session.release_caches_s": total("session.release_caches"),
            "streaming.run_to_memory.calls": n_streams,
            "streaming.run_to_memory_s": total("streaming.run_to_memory"),
            "streaming.stage_events_s": total("streaming.stage_events"),
            "streaming.batches": prog.batches,
            "streaming.planning_s": prog.duration_ms.get("queryPlanning", 0.0) / 1e3,
            "streaming.add_batch_s": prog.duration_ms.get("addBatch", 0.0) / 1e3,
            "streaming.wal_commit_s": prog.duration_ms.get("walCommit", 0.0) / 1e3,
            "streaming.state_rows": sum(prog.state_rows.values()),
            "streaming.state_mem_bytes": prog.state_mem_bytes,
            "sinks.write_s": sum(s.end - s.start for s in writes),
            "sinks.write_jobs": sum(s.jobs for s in writes),
            "sinks.bytes_written": out_bytes,
            "sinks.files_written": out_files,
            "spark.jobs": tracer.jobs_started() - jobs0,
            "spark.core_util": st["task_run_s"] / (job_s * self.nproc),
        }
        for k in ("stages", "tasks", "task_run_s", "task_cpu_s", "shuffle_write_bytes",
                  "shuffle_read_bytes", "spill_bytes", "gc_s"):
            m[f"spark.{k}"] = st[k]
        for s in builds + mats:
            m[f"{s.name}_s"] = m.get(f"{s.name}_s", 0.0) + (s.end - s.start)
        return m


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _per_layer_units() -> dict[str, str]:
    with open(ROOT / "BENCHMARK.json") as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    wl = WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    _prepare_env(nproc)
    timeline = {"start_s": _elapsed()}
    sf_dir = gen.ensure_inputs(args.seed, wl.scale, WORK / "inputs")
    timeline["inputs_s"] = _elapsed()
    expected = check.oracle_results(wl, sf_dir, WORK / "oracle")
    timeline["oracle_s"] = _elapsed()
    input_rows = sum(pq.ParquetFile(sf_dir / f"{t}.parquet").metadata.num_rows for t in wl.row_tables)

    spark = None
    try:
        # one fresh-JVM set-up per run: a second one costs more of the
        # run's time budget than it steadies the median over runs
        t = time.perf_counter()
        spark = session.get_spark("perfbench", cpus=nproc)
        setup_s = time.perf_counter() - t
        timeline["setup_s"] = _elapsed()
        result = _measure(spark, wl, args, sf_dir, expected, nproc, setup_s, input_rows)
        timeline["measure_s"] = _elapsed()
    finally:
        if spark is not None:
            _stop_spark(spark)
    timeline["stop_s"] = _elapsed()
    result["timeline"] = timeline
    return _report(wl, args, result)


def _measure(spark, wl, args, sf_dir, expected, nproc, setup_s, input_rows) -> dict:
    bench = Bench(spark, wl, sf_dir, expected, nproc)
    untraced = NullTracer()
    tracer = Tracer(spark) if args.trace else None
    passes = [bench.run_pass(0, untraced)]
    warm: list[PassResult] = []

    def more() -> bool:
        slowest = max(p.job_s for p in passes)
        if _elapsed() + 1.5 * slowest > DEADLINE_S:
            return False
        measured = sum(p.job_s for p in warm)
        return len(warm) < (len(TRACE_PATTERN) if args.trace else MIN_WARM) or measured < args.seconds

    while more():
        no = len(passes)
        if tracer is not None and TRACE_PATTERN[len(warm) % len(TRACE_PATTERN)] == "T":
            tracer.install()
            try:
                p = bench.run_pass(no, tracer)
            finally:
                tracer.uninstall()
        else:
            p = bench.run_pass(no, untraced)
        passes.append(p)
        warm.append(p)
    if not any(not p.traced for p in warm):
        raise RuntimeError(f"no warm pass fits the {DEADLINE_S}s deadline")

    fingerprint = {
        "workload": wl.name,
        "seed": args.seed,
        "scale": dataclasses.asdict(wl.scale),
        "ops": list(wl.ops),
        "nproc": nproc,
        "seconds": args.seconds,
        "trace": args.trace,
        **_code_revision(),
        "spark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }
    untraced_warm = [p.job_s for p in warm if not p.traced]
    job_s = _median(untraced_warm)
    metrics: dict[str, dict] = {}
    if not args.trace:
        values = {
            "setup_s": setup_s,
            "job_s": job_s,
            "rows_per_s": input_rows / job_s,
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in values.items()}
    else:
        traced = [p for p in warm if p.traced]
        run_level = {
            "cold_job_s": passes[0].job_s,
            "session.get_spark_s": setup_s,
            "jvm.peak_rss_mb": _jvm_peak_rss_mb(spark),
            "trace.overhead_frac": _median([p.job_s for p in traced]) / job_s - 1,
        }
        for name, unit in _per_layer_units().items():
            value = run_level.get(name, _median([p.layers.get(name, 0.0) for p in traced]))
            metrics[name] = {"value": value, "unit": unit}
        trace_dir = WORK / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        with open(trace_dir / f"{wl.name}-seed{args.seed}.json", "w") as f:
            json.dump(
                {
                    "fingerprint": fingerprint,
                    "spans": [dataclasses.asdict(s) for s in tracer.spans],
                    "self_s": self_times(tracer.spans),
                },
                f,
            )
    return {
        "fingerprint": fingerprint,
        "metrics": metrics,
        "passes": [
            {
                "job_s": p.job_s,
                "check_s": p.check_s,
                "traced": p.traced,
                "problems": p.problems,
                "leaked_mem_sinks": p.leaked_mem_sinks,
            }
            for p in passes
        ],
        "leaked_mem_sinks": sum(p.leaked_mem_sinks for p in passes),
        "setup_s": setup_s,
        "input_rows": input_rows,
        "attempted": sum(p.attempted for p in passes),
        "failed": sum(min(len(p.problems), p.attempted) for p in passes),
    }


def _report(wl, args, result: dict) -> int:
    attempted, failed = result["attempted"], result["failed"]
    result["metrics_extra"] = {"failed_frac": {"value": failed / attempted, "unit": "frac"}}
    res_dir = WORK / "results"
    res_dir.mkdir(parents=True, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    with open(res_dir / f"{wl.name}-seed{args.seed}-trace{args.trace}-{stamp}.json", "w") as f:
        json.dump(result, f, indent=1)
    for i, p in enumerate(result["passes"]):
        for op, probs in p["problems"].items():
            print(f"FAIL pass {i} {op}: {'; '.join(probs)[:2000]}")
    for name, m in {**result["metrics"], **result["metrics_extra"]}.items():
        print(f"{wl.name} {name} {m['value']:.6g} {m['unit']}")
    if n := result["leaked_mem_sinks"]:
        print(f"{wl.name}: {n} memory-sink tables outlived release_caches() over {len(result['passes'])} passes")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": result["metrics"],
            }
        ),
        flush=True,
    )
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
