"""SparkSession factory.

Local-mode defaults are tuned for the driver harness (local[N] with a
shared driver JVM); the same conf names are the ones to tune on a real
cluster. Everything here is stock Spark conf — no custom extensions.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession

# Query-scoped caches/checkpoints the engine created and has not yet
# released. Query functions return LAZY DataFrames, so they cannot
# unpersist in a try/finally themselves — the cache must outlive the
# function and die after the caller's action. `cached()` /
# `checkpoint_truncate()` register here; callers (the gate, bench,
# tests, any long-lived session) call `release_caches()` after
# consuming a query's result. Without release, behavior degrades to
# Spark's LRU eviction — same as a bare .cache().
_LIVE_CACHES: list[DataFrame] = []
# (result df, persisted-RDD handles, reliable-checkpoint path or None, sc)
_LIVE_CHECKPOINTS: list[tuple[DataFrame, list, str | None, object]] = []


def env_int(name: str, default: int) -> int:
    """Integer knob from the environment. Unset → `default`; a value
    that is not an integer warns and falls back to `default` instead of
    failing whatever reads it."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        return int(raw)
    except ValueError:
        warnings.warn(
            f"{name}={raw!r} is not an integer; using {default}", RuntimeWarning, stacklevel=2
        )
        return default


def cached(df: DataFrame) -> DataFrame:
    """`.cache()` + track for later release_caches()."""
    df.cache()
    _LIVE_CACHES.append(df)
    return df


def _checkpoint_artifacts(out: DataFrame) -> tuple[list, str | None]:
    """The checkpoint's OWN persisted-RDD handle + reliable-checkpoint
    file, read off the result's plan (a LogicalRDD wrapping exactly the
    RDD the checkpoint persisted/wrote). Identifying the RDD by id —
    not by diffing the global persistent-RDD map around the checkpoint
    job — matters because unrelated lazy SQL caches materialize DURING
    that job; a diff attributes their blocks to this checkpoint and
    releasing it would silently unpersist shared caches (ADVICE r3).

    Returns ([], None) if the plan shape ever stops being LogicalRDD
    (Spark-internals drift): blocks then outlive their release call,
    which tests/test_cache_hygiene.py turns into a loud failure."""
    sc = out.sparkSession.sparkContext
    try:
        jrdd = out._jdf.queryExecution().analyzed().rdd()
        rid = jrdd.id()
        handles = []
        it = sc._jsc.getPersistentRDDs().entrySet().iterator()
        while it.hasNext():
            e = it.next()
            if e.getKey() == rid:
                handles.append(e.getValue())
        cf = jrdd.getCheckpointFile()
        ckpt_file = cf.get() if cf.isDefined() else None
        return handles, ckpt_file
    except Exception:
        return [], None


def checkpoint_truncate(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize `df` and CUT its logical plan — mandatory inside
    iterative DataFrame loops, where each round embeds the previous
    round's plan several times over and an un-truncated loop grows the
    plan tree exponentially (`.cache()` does NOT help: caching keeps
    the full lineage). Uses the reliable checkpoint when a checkpoint
    dir is configured (cluster: survives executor loss), else a
    localCheckpoint (tests / local mode).

    eager=False (local path only): the checkpoint materializes inside
    the CALLER'S NEXT ACTION instead of its own job — for loops whose
    next statement is an action over the result (CC's convergence
    count), this fuses checkpoint-job + action-job into one, removing
    a full re-scan of the checkpointed blocks per round (guide §1.2:
    fewer passes). The reliable-checkpoint branch stays eager
    regardless: a lazy RELIABLE checkpoint recomputes the whole
    lineage in a second job at doCheckpoint time, which is strictly
    worse.

    localCheckpoint persists RDD blocks OUTSIDE the SQL cache, which
    `DataFrame.unpersist()` cannot reach, and a reliable checkpoint
    leaves files on disk — both are tracked here and freed by
    `release_checkpoint()` / `release_caches()`, so the release
    contract holds on either path."""
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isDefined():
        out = df.checkpoint(eager=True)
    else:
        out = df.localCheckpoint(eager=eager)
    handles, ckpt_file = _checkpoint_artifacts(out)
    _LIVE_CHECKPOINTS.append((out, handles, ckpt_file, sc))
    return out


def _free_checkpoint(handles: list, ckpt_file: str | None, sc) -> None:
    for h in handles:
        h.unpersist(False)
    if ckpt_file is not None:
        jvm = sc._jvm
        path = jvm.org.apache.hadoop.fs.Path(ckpt_file)
        fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
        fs.delete(path, True)


def release_checkpoint(df: DataFrame) -> None:
    """Free the persisted blocks / checkpoint files behind one
    checkpoint_truncate result. The data is NOT recomputable afterwards
    (the lineage was cut) — only call once `df` will never be read
    again (e.g. a superseded round inside an iterative loop)."""
    for i, (d, handles, ckpt_file, sc) in enumerate(_LIVE_CHECKPOINTS):
        if d is df:
            _free_checkpoint(handles, ckpt_file, sc)
            _LIVE_CHECKPOINTS.pop(i)
            return


def release_caches() -> int:
    """Unpersist every engine-created cache and checkpoint; returns how
    many were released. DataFrames returned by earlier query calls must
    be REBUILT after this, not re-collected — checkpointed results have
    no lineage to recompute from."""
    n = len(_LIVE_CACHES) + len(_LIVE_CHECKPOINTS)
    while _LIVE_CACHES:
        _LIVE_CACHES.pop().unpersist()
    while _LIVE_CHECKPOINTS:
        _, handles, ckpt_file, sc = _LIVE_CHECKPOINTS.pop()
        _free_checkpoint(handles, ckpt_file, sc)
    return n


def get_spark(
    app_name: str = "capstone-etl-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    - AQE on: runtime partition coalescing + skew-join splitting, so a
      plan sized for 100 TB doesn't over-shuffle at test scale.
    - shuffle partitions sized to cores locally (the 200 default is
      wrong at both ends of the scale range; at cluster scale AQE
      coalesces from a deliberately-high initial number).
    - UTC session timezone so timestamp semantics match the DuckDB
      oracle exactly.
    - Arrow enabled for the few pandas-backed operators (stateful
      streaming via applyInPandasWithState, multimodal decode stubs
      via mapInPandas) — everything else is JVM-side.
    """
    cpus = cpus or env_int("SPARK_GRAFT_CPUS", 32)
    shuffle = shuffle_partitions or env_int("SPARK_GRAFT_SHUFFLE", min(int(cpus), 32))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # bench/profile counters read cumulative job/stage counts off
        # the AppStatusStore; the 1000-entry default eviction would
        # saturate them mid-session (a full bench runs ~5000 stages).
        # Status entries without task detail are small — this is tens
        # of MB, not a memory risk, and the UI is off anyway.
        .config("spark.ui.retainedJobs", "20000")
        .config("spark.ui.retainedStages", "20000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # the streaming TEST harness drains to a memory sink (a driver
        # collect); at the sf10 scale point its candidate tables pass
        # 1 GiB — a harness artifact (a deployment writes a real sink),
        # so the cap is env-tunable for scale runs
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT", "1g"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
