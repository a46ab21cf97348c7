"""Seeded input generator for the benchmark.

Every table is synthesised from ``--seed`` with NumPy and written as one
parquet file per table, rows in a seeded order. The shapes follow the
repository's synthetic TPC-H-style sf0.1 tables (TESTDATA.md): the same
column names and types and the same value domains (two-word part names
over a 16-word vocabulary and 25 brands, ten orders per customer,
10-100-word documents over a 31-word vocabulary with ~5% near and ~0.1%
exact duplicates, unit 64-dimensional embeddings over ten labels).
``part`` and ``documents`` have the sf0.1 row counts, so the blocking
buckets and MinHash bands hold as many rows as there and pair expansion
amplifies rows by the same factors. ``embeddings`` has half the sf0.1
rows (its DuckDB oracle is quadratic in the label buckets), ``orders``
1/25 (its edge buckets are per customer, so their width does not depend
on the row count).
``perfbench/baseline.md`` records the measured comparison.

The tables' contents come from a fixed seed; ``--seed`` only puts their
rows in a seeded order, draws the set of customers whose balance drifts
and splits the documents into file-drop waves. The same seed always
gives byte-identical files. A digest of all of them keys the curation
reference answers, which depend on the wave split; a digest of the match
tables' contents keys the match answers, which every seed shares.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: nightly_run: customers melted to 4 statements each
N_CUSTOMERS = 10_000
#: share of customers whose balance drifts before the incremental run
DRIFT_SHARE = 0.20
#: match_dedupe input sizes
N_PARTS = 20_000
N_ORDERS = 6_000
N_DOCUMENTS = 5_000
N_EMBEDDINGS = 1_000
#: the documents are split into this many file-drop waves
N_WAVES = 10
#: seed of the tables' contents
CONTENT_SEED = 0
_MATCH_TABLES = ("part", "orders", "documents", "embeddings")

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJECTIVES = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
_NOUNS = ["ring", "bolt", "plate", "nut", "gear", "pipe", "valve", "screw"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_STATUSES = ["F", "O", "P"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_WORDS = (
    "a the data spark table query join group filter sort hash scan key value "
    "row column order line part customer stream window batch merge agg "
    "vector fast slow big small"
).split()
_LANGS = ["en", "de", "fr", "es", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


@dataclass(frozen=True)
class Inputs:
    """Paths of one seed's generated inputs."""

    root: str
    #: digest of every file written for the seed
    digest: str
    #: digest of the match tables' contents, whatever their row order
    content: str

    @property
    def tables(self) -> str:
        """Directory holding the match_dedupe tables (catalog ``sf_dir``)."""
        return os.path.join(self.root, "tables")

    def path(self, name: str) -> str:
        return os.path.join(self.root, f"{name}.parquet")

    def wave(self, i: int) -> str:
        return os.path.join(self.root, "waves", f"wave{i:02d}.parquet")


def _write(path: str, table: pa.Table) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def _shuffled(table: pa.Table, order: np.random.Generator) -> pa.Table:
    return table.take(order.permutation(table.num_rows))


def _customers(
    rng: np.random.Generator, order: np.random.Generator
) -> tuple[pa.Table, pa.Table]:
    n = N_CUSTOMERS
    keys = rng.permutation(n).astype(np.int64)
    bal = np.round(rng.uniform(-999.99, 9999.99, n), 2)
    cols = {
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": bal,
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n)],
    }
    drift = np.zeros(n, dtype=bool)
    drift[order.choice(n, int(n * DRIFT_SHARE), replace=False)] = True
    drifted = dict(cols, c_acctbal=np.where(drift, np.round(bal + 1.0, 2), bal))
    rows = order.permutation(n)
    return pa.table(cols).take(rows), pa.table(drifted).take(rows)


def _parts(rng: np.random.Generator) -> pa.Table:
    n = N_PARTS
    keys = rng.permutation(n).astype(np.int64)
    adj = rng.integers(0, len(_ADJECTIVES), n)
    noun = rng.integers(0, len(_NOUNS), n)
    return pa.table({
        "p_partkey": keys,
        "p_name": [f"{_ADJECTIVES[a]} {_NOUNS[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": [_TYPES[i] for i in rng.integers(0, len(_TYPES), n)],
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })


def _orders(rng: np.random.Generator) -> pa.Table:
    n = N_ORDERS
    days = rng.integers(0, 2404, n)
    dates = (np.datetime64("1995-01-01") + days).astype("datetime64[us]")
    return pa.table({
        "o_orderkey": rng.permutation(n).astype(np.int64),
        "o_custkey": rng.integers(0, n // 10, n).astype(np.int64),
        "o_orderstatus": [_STATUSES[i] for i in rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(800.0, 500_000.0, n), 2),
        "o_orderdate": pa.array(dates, pa.timestamp("us")),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n)],
    })


def _documents(rng: np.random.Generator) -> pa.Table:
    """Texts of 10-100 words over a 31-word vocabulary; ~5% are an earlier
    doc plus one word (near duplicates) and ~0.1% exact copies of an
    earlier doc."""
    n = N_DOCUMENTS
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.0508:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.integers(0, len(_WORDS), int(rng.integers(10, 101)))
            texts.append(" ".join(_WORDS[w] for w in words))
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.choice(5, n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    n = N_EMBEDDINGS
    x = rng.standard_normal((n, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": rng.permutation(n).astype(np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def generate(seed: int, work_dir: str) -> Inputs:
    """Write every table for ``seed`` under ``work_dir/inputs`` (reused
    when already complete) and return their paths. The directory is named
    after the seed and this module's source, so editing the generator
    never reuses inputs an older version wrote."""
    with open(__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:8]
    root = os.path.join(work_dir, "inputs", f"{seed}-{version}")
    done = os.path.join(root, "DIGEST")
    if os.path.exists(done):
        with open(done) as fh:
            return Inputs(root, *fh.read().split())
    rng = np.random.default_rng(CONTENT_SEED)
    order = np.random.default_rng(seed)
    inputs = Inputs(root, "", "")
    customers, drifted = _customers(rng, order)
    _write(inputs.path("customers"), customers)
    _write(inputs.path("customers_drifted"), drifted)
    tables = dict(zip(_MATCH_TABLES, (_parts(rng), _orders(rng), _documents(rng), _embeddings(rng))))
    h = hashlib.sha256()
    for name, table in tables.items():
        buf = pa.BufferOutputStream()
        pq.write_table(table, buf)
        h.update(name.encode() + buf.getvalue().to_pybytes())
        tables[name] = _shuffled(table, order)
        _write(os.path.join(inputs.tables, f"{name}.parquet"), tables[name])
    content = h.hexdigest()[:16]
    docs = tables["documents"]
    wave_of = order.permutation(np.arange(len(docs)) % N_WAVES)
    for i in range(N_WAVES):
        _write(inputs.wave(i), docs.filter(pa.array(wave_of == i)))
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            with open(os.path.join(dirpath, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    digest = h.hexdigest()[:16]
    with open(done, "w") as fh:
        fh.write(f"{digest} {content}")
    return Inputs(root, digest, content)
