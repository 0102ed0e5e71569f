"""Oracle gate: every result a pass produces is compared with the DuckDB
`oracle_sql()` result for the same generated inputs.

Oracle results are computed once per (workload, inputs, oracle SQL) and
cached under the benchmark's work directory, so no timed pass ever
waits on DuckDB. The comparison is `tools/check_correctness.compare`,
the repository's own order-insensitive rule set.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import sys
from pathlib import Path

import duckdb
import pandas as pd
import pyarrow.parquet as pq

from perfbench.workloads import COLLECTION_ORACLES, WRITE_OUTPUTS, Workload

ROOT = Path(__file__).resolve().parent.parent


def _compare():
    tools = str(ROOT / "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from check_correctness import compare

    return compare


def oracle_results(wl: Workload, sf_dir: Path, cache_dir: Path) -> dict[str, pd.DataFrame]:
    """name → expected frame for every result `wl` produces."""
    import __spark_entry__ as entry

    sqls = entry.oracle_sql()
    names = wl.oracle_names()
    key = hashlib.sha256(sf_dir.name.encode())
    for n in names:
        key.update(n.encode() + b"\0" + sqls[n].encode())
    path = cache_dir / f"{wl.name}-{key.hexdigest()[:20]}.pkl"
    if path.exists():
        with open(path, "rb") as f:
            return pickle.load(f)
    con = duckdb.connect()
    try:
        for t in sorted(p.stem for p in sf_dir.glob("*.parquet")):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        expected = {n: con.execute(sqls[n]).df() for n in names}
    finally:
        con.close()
    cache_dir.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    with open(tmp, "wb") as f:
        pickle.dump(expected, f)
    os.replace(tmp, path)
    return expected


def failed_ops(
    ops: tuple[str, ...], got: dict[str, pd.DataFrame], expected: dict[str, pd.DataFrame]
) -> dict[str, list[str]]:
    """op → problems, for every op whose results are missing or differ
    from the oracle. An op with no entry passed."""
    compare = _compare()
    out: dict[str, list[str]] = {}
    for op in ops:
        names = COLLECTION_ORACLES.values() if op == WRITE_OUTPUTS else (op,)
        problems = []
        for n in names:
            if n not in got:
                problems.append(f"{n}: no result")
            else:
                problems += [f"{n}: {p}" for p in compare(n, got[n], expected[n])]
        if problems:
            out[op] = problems
    return out


def _json_rows(out_dir: str, coll: str) -> int:
    n = 0
    for p in Path(out_dir, f"{coll}.json").glob("part-*"):
        with open(p, "rb") as f:
            n += sum(1 for _ in f)
    return n


def written_row_problems(out_dir: str, expected: dict[str, pd.DataFrame]) -> list[str]:
    """The cheap check of a write: each collection's parquet and JSON
    copies hold as many rows as its oracle result."""
    problems = []
    for coll, query in COLLECTION_ORACLES.items():
        n_parquet = sum(
            pq.ParquetFile(p).metadata.num_rows for p in Path(out_dir, f"{coll}.parquet").glob("part-*")
        )
        n_json, n_expected = _json_rows(out_dir, coll), len(expected[query])
        if n_parquet != n_expected or n_json != n_expected:
            problems.append(f"{coll}: {n_parquet} parquet / {n_json} JSON rows, oracle {n_expected}")
    return problems


def read_back_collections(spark, sf_dir: str, out_dir: str) -> dict[str, pd.DataFrame]:
    """The written collections, read back and projected exactly as the
    engine's own oracle-checked queries project the in-memory relation:
    each `*_collection` query runs with its `*_output` builder swapped
    for the parquet read-back. The JSON copy must hold the same rows."""
    from capstone_etl_spark.operators import outputs
    from capstone_etl_spark.sinks.writers import read_back

    got: dict[str, pd.DataFrame] = {}
    for coll, query in COLLECTION_ORACLES.items():
        builder = f"{coll}_output"
        written = read_back(spark, f"{out_dir}/{coll}.parquet")
        n_json = _json_rows(out_dir, coll)
        orig = getattr(outputs, builder)
        setattr(outputs, builder, lambda _s, _d, df=written: df)
        try:
            pdf = getattr(outputs, query)(spark, sf_dir).toPandas()
        finally:
            setattr(outputs, builder, orig)
        if n_json != len(pdf):
            raise ValueError(f"{coll}: {n_json} JSON rows, {len(pdf)} parquet rows")
        got[query] = pdf
    return got
