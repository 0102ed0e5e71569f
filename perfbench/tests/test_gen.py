"""The generator is a pure function of the seed, and its documents have
the shape the workloads rely on."""

from __future__ import annotations

import re

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import gen
from perfbench.workloads import COMMITTED_SEED, WORKLOADS

SMALL = gen.Scale(documents=300, embeddings=200, events=2_000, orders=1_000)


def test_same_seed_same_files(tmp_path):
    a = gen.ensure_inputs(7, SMALL, tmp_path / "a")
    b = gen.ensure_inputs(7, SMALL, tmp_path / "b")
    for name in SMALL.tables():
        assert (a / f"{name}.parquet").read_bytes() == (b / f"{name}.parquet").read_bytes(), name


def test_other_seed_other_inputs():
    a, b = gen.generate(7, SMALL), gen.generate(8, SMALL)
    for name in ("documents", "embeddings", "events", "customer", "orders", "lineitem"):
        assert not a[name].equals(b[name]), name


def test_inputs_cached_per_seed(tmp_path):
    first = gen.ensure_inputs(7, SMALL, tmp_path)
    stamp = (first / "_DONE").read_text()
    assert gen.ensure_inputs(7, SMALL, tmp_path) == first
    assert (first / "_DONE").read_text() == stamp
    assert gen.ensure_inputs(8, SMALL, tmp_path) != first


def _tokens(text: str) -> list[str]:
    """The engine's tokenizer: strip non-alphanumerics, lower, split."""
    return re.sub(r"[^a-zA-Z0-9 ]", "", text).lower().split()


def test_documents_in_bands():
    n = WORKLOADS["wikibooks_etl"].scale.documents
    docs = gen.generate(COMMITTED_SEED, gen.Scale(documents=n))["documents"]
    dictionary = set(gen.dictionary_words())
    stop = set(gen._stopwords())
    kept = [t for text in docs["text"].to_pylist() for t in _tokens(text) if t not in stop]
    distinct_dict = {t for t in kept if t in dictionary}
    # ~38,000 Zipf draws over 60,000 words: ~10,000 distinct dictionary
    # tokens, where the repository's fixed sf0.1 test corpus has 29
    assert 7_000 <= len(distinct_dict) <= 15_000
    ood = sum(1 for t in kept if t not in dictionary) / len(kept)
    assert 0.03 <= ood <= 0.10
    dup_share = float(np.mean(gen.near_duplicate_sources(COMMITTED_SEED, n) >= 0))
    assert 0.07 <= dup_share <= 0.13


def test_near_duplicates_are_near():
    n = 500
    docs = gen.generate(3, gen.Scale(documents=n))["documents"]["text"].to_pylist()
    src = gen.near_duplicate_sources(3, n)
    for i in np.flatnonzero(src >= 0)[:20]:
        a, b = _tokens(docs[i]), _tokens(docs[src[i]])
        assert len(a) == len(b)
        assert sum(x == y for x, y in zip(a, b)) / len(a) >= 0.8


def test_star_schema_keys_resolve(tmp_path):
    d = gen.ensure_inputs(5, gen.Scale(orders=2_000), tmp_path)
    t = {name: pq.read_table(d / f"{name}.parquet").to_pandas() for name in gen.Scale(orders=1).tables()}
    assert t["lineitem"]["l_orderkey"].isin(t["orders"]["o_orderkey"]).all()
    assert t["lineitem"]["l_partkey"].isin(t["part"]["p_partkey"]).all()
    assert t["lineitem"]["l_suppkey"].isin(t["supplier"]["s_suppkey"]).all()
    assert t["orders"]["o_custkey"].isin(t["customer"]["c_custkey"]).all()
    assert t["customer"]["c_nationkey"].isin(t["nation"]["n_nationkey"]).all()
    assert t["nation"]["n_regionkey"].isin(t["region"]["r_regionkey"]).all()
    assert not t["lineitem"].duplicated(["l_orderkey", "l_linenumber"]).any()
    ship = t["lineitem"].merge(t["orders"], left_on="l_orderkey", right_on="o_orderkey")
    assert (ship["l_shipdate"] > ship["o_orderdate"]).all()


@pytest.mark.parametrize("seed", [1, 2])
def test_embeddings_are_unit_vectors(seed):
    emb = gen.generate(seed, gen.Scale(embeddings=100))["embeddings"]
    vecs = np.array(emb["embedding"].to_pylist())
    assert vecs.shape == (100, gen.EMBED_DIM)
    assert np.allclose(np.linalg.norm(vecs, axis=1), 1.0, atol=1e-5)
