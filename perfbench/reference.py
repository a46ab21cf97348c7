"""Independent reference answers, computed with DuckDB and cached per
input digest.

- match_dedupe: each query's catalog ``ORACLES`` SQL over the generated
  tables, compared through ``tools/check_oracle.py``'s ``canonicalize``.
  The tables' contents are the same for every seed (only their row order
  differs), so these answers are cached per content digest and computed
  once.
- curate waves: a DuckDB replay of the wave chain, built from the
  catalog's curation oracle fragments (``_curate_stage_sql``,
  ``_minhash_sql``, ``_cc_sql``): each wave is curated against the
  fingerprints and MinHash bands of every document kept so far. The
  wave split depends on the seed: cached per (seed, input digest).
- nightly_run needs no engine: its expected counts follow from the
  generator's sizes (see ``run.py``).

A mismatch counts as a failed operation; it never aborts the run.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

from inputs import Inputs

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_REPO, "tools"))

from check_oracle import canonicalize  # noqa: E402

MATCH_QUERIES = [
    "j5_t1_blocking_topk",
    "pipeline_xref_resolve",
    "dedup_minhash_lsh",
    "dedup_near_cluster",
    "dedup_semantic_semdedup",
    "j7_edge_dedupe_merge",
]
MATCH_TABLES = ["part", "orders", "documents", "embeddings"]


def _cached(path: str, compute) -> pd.DataFrame:
    if not os.path.exists(path):
        df = compute()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        df.to_parquet(path + ".tmp")
        os.replace(path + ".tmp", path)
    return pd.read_parquet(path)


def match_answer(work_dir: str, inputs: Inputs, query: str) -> pd.DataFrame:
    """The oracle answer of ``query``."""
    from opensanctions_spark.catalog import ORACLES

    def compute() -> pd.DataFrame:
        con = duckdb.connect()
        con.execute("SET enable_progress_bar = false")
        for t in MATCH_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(inputs.tables, t)}.parquet'"
            )
        try:
            return con.sql(ORACLES[query]).df()
        finally:
            con.close()

    path = os.path.join(work_dir, "reference", f"match-{inputs.content}", f"{query}.parquet")
    return _cached(path, compute)


def _curate_wave_sql(wave_path: str) -> str:
    from opensanctions_spark.catalog.pipeline import (
        _CURATE_BUCKET100,
        _cc_sql,
        _curate_stage_sql,
        _minhash_sql,
    )

    return f"""
WITH RECURSIVE
w AS (SELECT * FROM read_parquet('{wave_path}')),
{_curate_stage_sql('w', 'w').strip()},
fresh AS (SELECT * FROM qw WHERE fp NOT IN (SELECT fp FROM fps)),
exk AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
    FROM fresh
  ) WHERE rn = 1
),
{_minhash_sql('e', 'exk').strip()},
vs_prior AS (
  SELECT DISTINCT n.doc_id
  FROM (
    SELECT b2.doc_id, b1.doc_id AS prior_id, COUNT(*) AS n_bands
    FROM mhe b2 JOIN bands b1 ON b2.k = b1.k AND b2.mh = b1.mh
    GROUP BY b2.doc_id, b1.doc_id
  ) n WHERE n.n_bands >= 4
),
surv AS (SELECT * FROM exk WHERE doc_id NOT IN (SELECT doc_id FROM vs_prior)),
{_minhash_sql('s', 'surv').strip()},
{_cc_sql('s', 'mhs').strip()},
kept AS (
  SELECT e.* FROM surv e LEFT JOIN comps c ON e.doc_id = c.node
  WHERE COALESCE(c.component, e.doc_id) = e.doc_id
)
SELECT doc_id, lang, source, n_tokens, text, fp,
       CASE WHEN {_CURATE_BUCKET100} < 80 THEN 'train'
            WHEN {_CURATE_BUCKET100} < 90 THEN 'val'
            ELSE 'test' END AS split
FROM kept
"""


def _replay_waves(inputs: Inputs, n_waves: int) -> pd.DataFrame:
    from opensanctions_spark.catalog.pipeline import _minhash_sql

    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute("SET threads TO 4")
    con.execute("CREATE TABLE fps (fp VARCHAR)")
    con.execute("CREATE TABLE bands (doc_id BIGINT, k BIGINT, mh VARCHAR)")
    frames = []
    for i in range(n_waves):
        con.execute(f"CREATE OR REPLACE TABLE kept AS {_curate_wave_sql(inputs.wave(i))}")
        con.execute("INSERT INTO fps SELECT DISTINCT fp FROM kept")
        con.execute(
            f"INSERT INTO bands WITH {_minhash_sql('k', 'kept').strip()} "
            "SELECT doc_id, k, mh FROM mhk"
        )
        kept = con.sql(
            "SELECT doc_id, lang, source, n_tokens, split FROM kept"
        ).df()
        kept["wave"] = i
        frames.append(kept)
    con.close()
    return pd.concat(frames, ignore_index=True)


def curate_answers(work_dir: str, seed: int, inputs: Inputs, n_waves: int) -> pd.DataFrame:
    """Corpus rows kept by each of the first ``n_waves`` waves (column
    ``wave``)."""
    path = os.path.join(
        work_dir, "reference", f"{seed}-{inputs.digest}", f"curate_{n_waves}waves.parquet"
    )
    return _cached(path, lambda: _replay_waves(inputs, n_waves))


def same_rows(actual: pd.DataFrame, expected: pd.DataFrame) -> bool:
    """Equal up to row order, through the oracle checker's canonical form."""
    a, e = canonicalize(actual), canonicalize(expected)
    return list(a.columns) == list(e.columns) and len(a) == len(e) and bool(
        a.reset_index(drop=True).equals(e.reset_index(drop=True))
    )
