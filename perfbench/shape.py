"""Shape of a set of match tables, for comparing the generated inputs with
the repository's sf0.1 test tables:

    python3 perfbench/shape.py <tables dir>

``<tables dir>`` holds ``part``, ``orders``, ``documents`` and
``embeddings`` as ``<name>.parquet`` (an sf directory, or
``perfbench/.work/inputs/<seed>-<version>/tables``). Prints one line per figure
that sets the cost of the match queries: row counts, value domains,
blocking-bucket widths and their sum of squares (the in-bucket pair
count), duplicate rates, and cosine-pair rates inside the label buckets.
"""

from __future__ import annotations

import sys

import duckdb
import numpy as np

# the semantic-dedup edge threshold (catalog.vectors.dedup_embedding_fast)
COSINE_EDGE = 0.25

FIGURES = {
    "part rows, names, brands": "SELECT count(*), count(DISTINCT p_name), count(DISTINCT p_brand) FROM part",
    "part name words": "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(p_name, ' ')) w FROM part)",
    "part (word, brand) buckets: n, mean, max, sum n^2": """
        SELECT count(*), avg(n), max(n), sum(n * n) FROM (
          SELECT w || '#' || p_brand, count(*) n FROM (
            SELECT DISTINCT p_partkey, unnest(string_split(p_name, ' ')) w, p_brand FROM part
          ) GROUP BY 1)""",
    "orders rows, customers": "SELECT count(*), count(DISTINCT o_custkey) FROM orders",
    "orders per customer: mean, max": "SELECT avg(n), max(n) FROM (SELECT count(*) n FROM orders GROUP BY o_custkey)",
    "documents rows, words min/median/max": """
        SELECT count(*), min(n), median(n), max(n) FROM (
          SELECT len(string_split(text, ' ')) n FROM documents)""",
    "documents vocabulary": "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) w FROM documents)",
    "documents exact-duplicate rows": "SELECT coalesce(sum(n - 1), 0) FROM (SELECT count(*) n FROM documents GROUP BY text HAVING n > 1)",
    "documents near duplicates (another doc plus one word)": """
        SELECT count(*) FROM documents a WHERE EXISTS (
          SELECT 1 FROM documents b WHERE a.text LIKE b.text || ' %'
          AND len(string_split(a.text, ' ')) = len(string_split(b.text, ' ')) + 1)""",
    "embeddings rows, dims, labels": "SELECT count(*), max(len(embedding)), count(DISTINCT label) FROM embeddings",
    "embeddings per label: mean, max, sum n^2": "SELECT avg(n), max(n), sum(n * n) FROM (SELECT count(*) n FROM embeddings GROUP BY label)",
}


def main() -> int:
    tables = sys.argv[1]
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in ("part", "orders", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    for name, sql in FIGURES.items():
        print(f"{name}: {con.sql(sql).fetchall()[0]}")
    emb = con.sql("SELECT label, embedding FROM embeddings").df()
    pairs = edges = 0
    for _, group in emb.groupby("label"):
        x = np.stack(group["embedding"].to_numpy()).astype(np.float64)
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        cos = (x @ x.T)[np.triu_indices(len(x), k=1)]
        pairs += len(cos)
        edges += int((cos >= COSINE_EDGE).sum())
    print(f"embeddings in-label pairs with cosine >= {COSINE_EDGE}: {edges} of {pairs}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
