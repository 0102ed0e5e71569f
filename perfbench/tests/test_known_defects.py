"""Engine defects the benchmark found and keeps out of its pass/fail
verdict. Each test asserts the correct behaviour and is a strict xfail
while the defect stands, so a fix shows up as an unexpected pass."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry
from capstone_etl_spark import session
from perfbench import check, gen
from perfbench.workloads import Workload


@pytest.fixture(scope="module")
def spark():
    s = session.get_spark("perfbench-tests", cpus=2)
    yield s
    s.stop()


def _run(spark, tmp_path, op: str, scale: gen.Scale, seed: int = 1):
    wl = Workload(op, (op,), scale, ())
    sf = gen.ensure_inputs(seed, scale, tmp_path / "inputs")
    expected = check.oracle_results(wl, sf, tmp_path / "oracle")
    got = {op: entry.queries()[op](spark, str(sf)).toPandas()}
    return check.failed_ops(wl.ops, got, expected)


@pytest.mark.xfail(
    strict=True,
    reason="ROUND(unit_cost, 6) on a double: Spark and DuckDB round some half-way cases apart",
)
def test_min_cost_supplier_matches_oracle(spark, tmp_path):
    # 60,000 generated lineitem rows at seed 1; 2 of seeds 1-6 show the
    # 1e-6 difference
    try:
        assert _run(spark, tmp_path, "min_cost_supplier", gen.Scale(orders=15_000)) == {}
    finally:
        session.release_caches()


@pytest.mark.xfail(strict=True, reason="run_to_memory's memory-sink tables outlive release_caches()")
def test_streams_leave_no_memory_sink(spark, tmp_path):
    def sinks() -> set[str]:
        return {t.name for t in spark.catalog.listTables() if t.name.startswith("mem_sink_")}

    before = sinks()
    assert _run(spark, tmp_path, "stream_ab_test", gen.Scale(events=2_000)) == {}
    session.release_caches()
    assert sinks() == before
