"""Seeded input generator for the benchmark.

Every table is a pure function of (seed, scale): the same seed writes
byte-identical parquet files, another seed writes different ones. The
schemas and value domains are the engine's input contract (FIXTURES.md
§B: the TPC-H-style star schema plus `documents`, `embeddings` and
`events`), so the program receives only generated inputs.

Documents draw Zipf-distributed tokens from the in-repo 235,886-line
wordlist (the reference's dictionary), mixed with stopwords,
out-of-dictionary tokens, digits, punctuation and case noise; a seeded
share of them are planted near-duplicates of an earlier document.
Star-schema tables keep referential integrity: every foreign key points
at an existing row.

Where a shape has a source, the constant below names it: most come from
statistics of the repository's sf0.1 test tables (TESTDATA.md), the rest
from the TPC-H specification or Zipf's law. Constants marked
"unverified" are choices with no measured or published source; the
inputs are synthetic and are not claimed to represent any real corpus.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import re
import shutil
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parent.parent
WORDLIST = ROOT / "capstone_etl_spark" / "resources" / "wordlist_en_full.txt"

# Bumped whenever the generator's output for a given seed changes, so
# cached inputs and oracle results are never reused across versions.
GEN_VERSION = 2

# Zipf's law (Zipf 1949): word frequency falls as rank^-1 in English text
ZIPF_S = 1.0
ZIPF_VOCAB = 60_000    # unverified: dictionary words eligible per seed
STOPWORD_SHARE = 0.30  # unverified: share of token slots taken by stopwords
OOD_SHARE = 0.04       # unverified: share of out-of-dictionary tokens
NEAR_DUP_SHARE = 0.10  # unverified: planted near-duplicate documents
NEAR_DUP_EDIT = 0.05   # unverified: share of a duplicate's tokens replaced
UPPER_SHARE = 0.05     # unverified: capitalised tokens (sf0.1 has none)
PUNCT_SHARE = 0.03     # unverified: tokens with a trailing comma (sf0.1 has none)
# sf0.1 documents: 10 to 100 whitespace tokens, uniform (mean 54.1, sd 25.7)
DOC_TOKENS = (10, 100)

# sf0.1 documents: en 0.41, then de/es/fr/zh 0.14-0.15 each; 20 sources
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.40, 0.15, 0.15, 0.15, 0.15)
N_SOURCES = 20
# sf0.1 events: five types at 0.20 each, 66.7 events per user, value
# exponential with mean 49.9 (sd 49.6), 30 days from 2024-01-01, props k 0-99
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EVENTS_PER_USER = 66
EVENT_VALUE_MEAN = 50.0
# sf0.1 star tables: these domains, TPC-H's row ratios per order
# (customer 1/10, supplier 1/150, part 2/15, lineitem ~4 per order),
# order dates 1995-01-01..2001-08-01 and p_retailprice 900 + (key % 1000)/10
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("large", "hot", "small", "red", "steel", "cold", "blue", "tiny")
PART_NOUN = ("ring", "bolt", "gear", "pipe", "nut", "valve", "plate", "wire")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
# TPC-H 4.2.3: l_shipdate = o_orderdate + 1..121 days (sf0.1 draws it
# independently of the order date)
SHIP_DAYS = (1, 121)
# sf0.1 embeddings: 64-dim unit vectors, 10 labels
EMBED_DIM = 64
EMBED_LABELS = 10
# unverified: noise around per-label centres, giving cosine 0.65 to the
# own-label centroid; sf0.1 vectors are unclustered (cosine 0.07, the
# noise floor of a 200-vector mean)
EMBED_NOISE = 1.2


@dataclass(frozen=True)
class Scale:
    """Row counts per table; tables with 0 rows are not written."""

    documents: int = 0
    embeddings: int = 0
    events: int = 0
    orders: int = 0          # lineitem = 4 × orders, star tables scale along

    def tables(self) -> tuple[str, ...]:
        out = []
        if self.documents:
            out.append("documents")
        if self.embeddings:
            out.append("embeddings")
        if self.events:
            out.append("events")
        if self.orders:
            out += ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]
        return tuple(out)


def _rng(seed: int, table: str) -> np.random.Generator:
    """Independent stream per (seed, table): a table's rows do not
    depend on which other tables a workload generates."""
    salt = int.from_bytes(hashlib.sha256(table.encode()).digest()[:4], "little")
    return np.random.default_rng([seed, salt])


def _stopwords() -> list[str]:
    from capstone_etl_spark.functions.stopwords import STOPWORDS

    return sorted(w for w in STOPWORDS if w)


def dictionary_words() -> list[str]:
    """Distinct lowercased alphabetic wordlist entries, sorted."""
    with open(WORDLIST, encoding="utf-8") as f:
        words = {line.strip().lower() for line in f}
    return sorted(w for w in words if re.fullmatch(r"[a-z]+", w))


def _zipf_ranks(rng: np.random.Generator, n: int, vocab: int) -> np.ndarray:
    ranks = np.arange(1, vocab + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    return rng.choice(vocab, size=n, p=p / p.sum())


def _documents(seed: int, n: int) -> tuple[pa.Table, np.ndarray]:
    rng = _rng(seed, "documents")
    words = np.array(dictionary_words(), dtype=object)
    vocab = words[rng.permutation(len(words))[:ZIPF_VOCAB]]
    stop = np.array(_stopwords(), dtype=object)

    lengths = rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1, n)
    total = int(lengths.sum())
    kind = rng.random(total)
    toks = vocab[_zipf_ranks(rng, total, len(vocab))]
    is_stop = kind < STOPWORD_SHARE
    toks[is_stop] = stop[rng.integers(0, len(stop), int(is_stop.sum()))]
    is_ood = (kind >= STOPWORD_SHARE) & (kind < STOPWORD_SHARE + OOD_SHARE)
    n_ood = int(is_ood.sum())
    # out-of-dictionary tokens: "qz" + hex digits, which the wordlist
    # never holds and the tokenizer keeps
    ood = np.array(
        [f"qz{a:x}x{b}" for a, b in zip(rng.integers(0, 1 << 20, n_ood), rng.integers(0, 10, n_ood))],
        dtype=object,
    )
    toks[is_ood] = ood
    # surface noise the tokenizer must undo: case, punctuation, newlines
    noise = rng.random(total)
    upper = noise < UPPER_SHARE
    toks[upper] = [t.capitalize() for t in toks[upper]]
    punct = (noise >= UPPER_SHARE) & (noise < UPPER_SHARE + PUNCT_SHARE)
    toks[punct] = [t + "," for t in toks[punct]]

    bounds = np.concatenate([[0], np.cumsum(lengths)])
    docs = [toks[bounds[i]: bounds[i + 1]] for i in range(n)]
    # planted near-duplicates: a copy of an earlier document with a few
    # token slots redrawn
    dup_of = np.full(n, -1)
    is_dup = rng.random(n) < NEAR_DUP_SHARE
    is_dup[:10] = False  # the first documents are all originals
    for i in np.flatnonzero(is_dup):
        src = int(rng.integers(0, i))
        d = docs[src].copy()
        edit = rng.random(len(d)) < NEAR_DUP_EDIT
        d[edit] = vocab[_zipf_ranks(rng, int(edit.sum()), len(vocab))]
        docs[i] = d
        dup_of[i] = src
    texts = []
    for i, d in enumerate(docs):
        s = " ".join(d)
        if i % 17 == 0:
            cut = len(s) // 2
            s = s[:cut] + "\n" + s[cut:]
        texts.append(s)
    lang = rng.choice(len(LANGS), size=n, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in lang], pa.string()),
            "source": pa.array([f"src{i}" for i in rng.integers(0, N_SOURCES, n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    ), dup_of


def _embeddings(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "embeddings")
    centers = rng.normal(size=(EMBED_LABELS, EMBED_DIM))
    label = rng.integers(0, EMBED_LABELS, n)
    vec = centers[label] + EMBED_NOISE * rng.normal(size=(n, EMBED_DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    vec = vec.astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel(), pa.float32()), EMBED_DIM)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def _events(seed: int, n: int) -> pa.Table:
    rng = _rng(seed, "events")
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    users = max(n // EVENTS_PER_USER, 10)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
            "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), n)], pa.string()),
            "value": pa.array(np.round(rng.exponential(EVENT_VALUE_MEAN, n), 2), pa.float64()),
            "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)], pa.string()),
        }
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> np.ndarray:
    a, b = np.datetime64(first, "D"), np.datetime64(last, "D")
    return a + rng.integers(0, int((b - a).astype(int)) + 1, n).astype("timedelta64[D]")


def _star(seed: int, n_orders: int) -> dict[str, pa.Table]:
    n_cust = max(n_orders // 10, 50)
    n_supp = max(n_orders // 150, 10)
    n_part = max(n_orders * 2 // 15, 50)
    n_line = n_orders * 4
    rng = _rng(seed, "star")
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS, pa.string())}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), pa.float64()),
            "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, n_cust)], pa.string()),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), pa.float64()),
        }
    )
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)], pa.string()),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], pa.string()),
            "p_type": pa.array([PART_TYPES[i] for i in rng.integers(0, 6, n_part)], pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1), pa.float64()),
        }
    )
    odate = _days(rng, "1995-01-01", "2001-08-01", n_orders)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)], pa.string()),
            "o_totalprice": pa.array(_money(rng, 1000, 500000, n_orders), pa.float64()),
            "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
            "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, n_orders)], pa.string()),
        }
    )
    okey = np.sort(rng.integers(0, n_orders, n_line))
    first = np.concatenate([[True], okey[1:] != okey[:-1]])
    run_start = np.maximum.accumulate(np.where(first, np.arange(n_line), 0))
    linenumber = np.arange(n_line) - run_start + 1
    ship = odate[okey] + rng.integers(SHIP_DAYS[0], SHIP_DAYS[1] + 1, n_line).astype("timedelta64[D]")
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(linenumber, pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64), pa.float64()),
            "l_extendedprice": pa.array(_money(rng, 900, 105000, n_line), pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, pa.float64()),
            "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)], pa.string()),
            "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, n_line)], pa.string()),
            "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
        }
    )
    return out


def generate(seed: int, scale: Scale) -> dict[str, pa.Table]:
    """All tables of `scale` for `seed`, in memory."""
    tables: dict[str, pa.Table] = {}
    if scale.documents:
        tables["documents"], _ = _documents(seed, scale.documents)
    if scale.embeddings:
        tables["embeddings"] = _embeddings(seed, scale.embeddings)
    if scale.events:
        tables["events"] = _events(seed, scale.events)
    if scale.orders:
        tables.update(_star(seed, scale.orders))
    return tables


def near_duplicate_sources(seed: int, n_docs: int) -> np.ndarray:
    """Per document, the id of the document it was planted from (-1
    when it is an original)."""
    return _documents(seed, n_docs)[1]


def ensure_inputs(seed: int, scale: Scale, base: Path) -> Path:
    """Generate the inputs for (seed, scale) under `base` unless an
    identical set is already there; returns the table directory."""
    key = f"v{GEN_VERSION}-s{seed}-" + "-".join(
        f"{k}{v}" for k, v in sorted(vars(scale).items()) if v
    )
    out = base / key
    done = out / "_DONE"
    if done.exists():
        return out
    if out.exists():
        shutil.rmtree(out)
    tmp = base / (key + ".tmp")
    if tmp.exists():
        shutil.rmtree(tmp)
    tmp.mkdir(parents=True)
    for name, table in generate(seed, scale).items():
        pq.write_table(table, tmp / f"{name}.parquet")
    (tmp / "_DONE").write_text(dt.datetime.now(dt.timezone.utc).isoformat())
    os.replace(tmp, out)
    return out
