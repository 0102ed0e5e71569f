"""The oracle gate, the tracer's bookkeeping and the benchmark's exit
behaviour."""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import types
from pathlib import Path

import pytest

from perfbench import check, gen, trace
from perfbench.workloads import COMMITTED_SEED, WORKLOADS, Workload

ROOT = Path(__file__).resolve().parents[2]


@pytest.fixture(scope="module")
def oracles(tmp_path_factory):
    """Oracle results of every workload at the committed seed."""
    base = tmp_path_factory.mktemp("bench")
    out = {}
    for wl in WORKLOADS.values():
        sf = gen.ensure_inputs(COMMITTED_SEED, wl.scale, base / "inputs")
        out[wl.name] = check.oracle_results(wl, sf, base / "oracle")
    return out


def test_outputs_non_degenerate_at_committed_seed(oracles):
    for wl in WORKLOADS.values():
        for name, frame in oracles[wl.name].items():
            assert len(frame) > 0, (wl.name, name)
    etl = oracles["wikibooks_etl"]
    # the token-keyed layers do real work: thousands of distinct tokens
    # pass the wordlist gate and key the inverted index (the fixed sf0.1
    # test corpus has 29)
    assert etl["dictionary_file_gate"]["token"].nunique() >= 3_000
    assert etl["inverted_index"]["token"].nunique() >= 3_000
    n_docs = WORKLOADS["wikibooks_etl"].scale.documents
    assert len(etl["wikibooks_docs"]) == n_docs
    assert etl["wikibooks_docs"]["count_children"].sum() > 0
    llm = oracles["llm_curation"]
    assert len(llm["stream_ab_test"]) == 2
    assert llm["pca_power_iteration"].iloc[:, -1].abs().sum() > 0


def test_oracle_results_are_cached(oracles, tmp_path):
    wl = WORKLOADS["llm_curation"]
    sf = gen.ensure_inputs(COMMITTED_SEED, wl.scale, tmp_path / "inputs")
    first = check.oracle_results(wl, sf, tmp_path / "oracle")
    (cached,) = (tmp_path / "oracle").glob("*.pkl")
    mtime = cached.stat().st_mtime_ns
    again = check.oracle_results(wl, sf, tmp_path / "oracle")
    assert cached.stat().st_mtime_ns == mtime
    for name in first:
        assert first[name].equals(again[name])


def test_corrupted_result_counts_as_failure(oracles):
    wl = WORKLOADS["wikibooks_etl"]
    expected = oracles[wl.name]
    got = {name: frame.copy() for name, frame in expected.items()}
    assert check.failed_ops(wl.ops, got, expected) == {}

    bad = dict(got)
    frame = bad["inverted_index"].copy()
    frame.loc[frame.index[0], "postings"] = frame["postings"].iloc[0] + ",999999:1"
    bad["inverted_index"] = frame
    bad["tokens_collection"] = got["tokens_collection"].iloc[1:]
    failed = check.failed_ops(wl.ops, bad, expected)
    assert set(failed) == {"inverted_index", "write_outputs"}
    assert len(failed) / len(wl.ops) > 0

    del got["inverted_index"]
    assert set(check.failed_ops(wl.ops, got, expected)) == {"inverted_index"}


def test_written_row_counts_checked(oracles, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from perfbench.workloads import COLLECTION_ORACLES

    expected = oracles["wikibooks_etl"]
    for coll, query in COLLECTION_ORACLES.items():
        n = len(expected[query])
        (tmp_path / f"{coll}.parquet").mkdir()
        pq.write_table(pa.table({"x": list(range(n))}), tmp_path / f"{coll}.parquet" / "part-0.parquet")
        (tmp_path / f"{coll}.json").mkdir()
        (tmp_path / f"{coll}.json" / "part-0.json").write_text("{}\n" * n)
    assert check.written_row_problems(str(tmp_path), expected) == []
    (tmp_path / "tokens.json" / "part-1.json").write_text("{}\n")
    assert len(check.written_row_problems(str(tmp_path), expected)) == 1


def test_self_times_subtract_children():
    spans = [
        trace.Span("op", 0.0, 10.0, -1, 1),
        trace.Span("load", 1.0, 3.0, 0, 1),
        trace.Span("cache", 4.0, 8.0, 0, 1),
        trace.Span("load", 5.0, 6.0, 2, 1),
        trace.Span("op", 20.0, 25.0, -1, 2),
        trace.Span("load", 21.0, 22.0, 4, 2),
    ]
    assert trace.self_times(spans) == {
        1: {"op": 4.0, "load": 3.0, "cache": 3.0},
        2: {"op": 4.0, "load": 1.0},
    }


def test_tracer_patches_every_binding():
    """Operator modules bind session/streaming helpers at import; the
    tracer must swap each copy and put every original back."""
    from capstone_etl_spark import session
    from capstone_etl_spark.operators import dedup, similarity, streaming_queries
    from capstone_etl_spark.streaming import runner

    ckpt, cached, run = session.checkpoint_truncate, session.cached, runner.run_to_memory
    fake = types.SimpleNamespace(
        streams=types.SimpleNamespace(addListener=lambda _l: None, removeListener=lambda _l: None)
    )
    tr = trace.Tracer(fake)
    tr.install()
    try:
        assert dedup.checkpoint_truncate is similarity.checkpoint_truncate is session.checkpoint_truncate
        assert session.checkpoint_truncate.__wrapped__ is ckpt
        assert similarity.cached is session.cached and session.cached.__wrapped__ is cached
        assert runner.run_to_memory.__wrapped__ is run
        assert streaming_queries.run_to_memory is runner.run_to_memory
    finally:
        tr.uninstall()
    assert dedup.checkpoint_truncate is session.checkpoint_truncate is ckpt
    assert similarity.cached is cached and runner.run_to_memory is run


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, a run exits non-zero
    and prints no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    cmd = json.loads((ROOT / "BENCHMARK.json").read_text())["command"]
    proc = subprocess.run(
        [sys.executable if cmd[0] == "python3" else cmd[0], *cmd[1:],
         "--workload", "llm_curation", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


def test_workload_shape():
    for wl in WORKLOADS.values():
        assert isinstance(wl, Workload)
        assert set(wl.row_tables) <= set(wl.scale.tables())


def test_compare_needs_matching_fingerprints(tmp_path, capsys):
    from perfbench import compare

    fp = {k: "x" for k in compare.ENV_KEYS} | {"seed": 1, "git_sha": "a", "tree_sha": "b"}
    metrics = {"job_s": {"value": 2.0, "unit": "s"}}
    a, b, c = tmp_path / "a.json", tmp_path / "b.json", tmp_path / "c.json"
    a.write_text(json.dumps({"fingerprint": fp, "metrics": metrics}))
    b.write_text(json.dumps({"fingerprint": fp | {"seed": 2, "git_sha": "z"}, "metrics": metrics}))
    c.write_text(json.dumps({"fingerprint": fp | {"nproc": 8}, "metrics": metrics}))
    assert compare.main([str(a), str(b)]) == 0
    assert "1.000x" in capsys.readouterr().out
    assert compare.main([str(a), str(c)]) == 2
    assert "nproc" in capsys.readouterr().out
