"""Vector similarity-search catalog queries over the embeddings table.

ANN over an array<float> column: brute-force cosine top-k as the exactness
baseline, and an IVF-style bucketed variant as the scale path. All math is
double-precision with identical left-to-right fold order in Spark
(``F.aggregate`` over ``zip_with``) and DuckDB (``list_reduce`` over
``list_transform``), so scores are bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from opensanctions_spark.catalog import QUERIES, load, register
from opensanctions_spark.session import materialize

N_QUERIES = 10  # vec_id < 10 are the query set
TOP_K = 5


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic accumulation order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


_DOT_SQL = (
    "list_reduce(list_transform(range(1, len({a}) + 1), "
    "i -> {a}[i] * {b}[i]), (x, y) -> x + y)"
)


def _dot_sql(a: str, b: str) -> str:
    return _DOT_SQL.format(a=a, b=b)


@register(
    "ann_cosine_topk",
    oracle=f"""
WITH vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
normed AS (
  SELECT vec_id, emb, sqrt({_dot_sql('emb', 'emb')}) AS nrm FROM vecs
),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_dot_sql('q.emb', 'c.emb')} / (q.nrm * c.nrm) AS score
  FROM normed q JOIN normed c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, score, rank FROM ranked WHERE rank <= {TOP_K}
""",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: the ANN exactness baseline.

    Query set (broadcast) × candidate scan → score → per-query top-k
    window. At 100 TB the candidate side stays partitioned and only the
    query block broadcasts — a single pass, no shuffle of the big side;
    the window is per-query and tiny after candidate scoring."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("emb")
    )
    normed = emb.select("vec_id", "emb", norm(F.col("emb")).alias("nrm"))
    q = normed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    c = normed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
    )
    pairs = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_nrm") * F.col("c_nrm"))).alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
    )


@register(
    "ann_ivf_bucketed",
    oracle=f"""
WITH vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         CAST(list_position(embedding::DOUBLE[],
                            list_aggregate(embedding::DOUBLE[], 'max')) AS BIGINT) AS bucket
  FROM embeddings
),
normed AS (
  SELECT vec_id, emb, bucket, sqrt({_dot_sql('emb', 'emb')}) AS nrm FROM vecs
),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.bucket AS bucket,
         {_dot_sql('q.emb', 'c.emb')} / (q.nrm * c.nrm) AS score
  FROM normed q JOIN normed c
    ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
ranked AS (
  SELECT query_id, neighbor_id, bucket, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, bucket, score, rank FROM ranked WHERE rank <= {TOP_K}
""",
)
def ann_ivf_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style bucketed ANN: coarse quantizer = argmax dimension (a
    stand-in for k-means centroids), candidates restricted to the query's
    bucket. The scale path: the candidate join is an equi-join on bucket,
    so it shuffles once on the bucket key instead of scanning everything
    per query — recall trades against the bucket count exactly like IVF
    nprobe=1."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        _as_double(F.col("embedding")).alias("emb"),
    )
    emb = emb.withColumn(
        "bucket", F.array_position(F.col("emb"), F.array_max(F.col("emb")))
    )
    normed = emb.select("vec_id", "emb", "bucket", norm(F.col("emb")).alias("nrm"))
    q = normed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("bucket"),
    )
    c = normed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
        F.col("bucket").alias("bucket_c"),
    )
    pairs = (
        F.broadcast(q)
        .join(c, (F.col("bucket") == F.col("bucket_c")) & (F.col("query_id") != F.col("neighbor_id")))
        .select(
            "query_id",
            "neighbor_id",
            "bucket",
            (dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_nrm") * F.col("c_nrm"))).alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
    )


@register(
    "ann_cosine_fast",
    oracle=f"""
WITH vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
normed AS (
  SELECT vec_id, emb, sqrt({_dot_sql('emb', 'emb')}) AS nrm FROM vecs
),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST(floor({_dot_sql('q.emb', 'c.emb')} / (q.nrm * c.nrm)
                    * 1000000000) AS BIGINT) AS score_q
  FROM normed q JOIN normed c ON q.vec_id <> c.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
ranked AS (
  SELECT query_id, neighbor_id, score_q,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score_q DESC, neighbor_id) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, score_q, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TOP_K}
""",
)
def ann_cosine_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k on the PRODUCTION scoring path.

    The oracle twin (``ann_cosine_topk``) interprets one HOF fold per
    pair — CPU-bound at scale (the round-1 design flag). Here the
    bounded query block collects once (N_QUERIES rows) into a numpy
    matrix that closes over the ``mapInPandas`` scorer; candidates
    stream through Python ONCE (each embedding ships once, not once per
    query), every Arrow batch scores with a single BLAS gemm
    ``C @ Q.T``, and each batch emits only its per-query top-k — so the
    shuffle into the final exact top-k window carries
    O(batches · queries · k) rows, independent of corpus size. Scores
    quantize to integer nano-units on both engines because BLAS and a
    sequential fold differ in the last ulp."""
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("emb")
    )
    q_rows = emb.filter(F.col("vec_id") < N_QUERIES).collect()
    Q = np.stack([np.asarray(r["emb"]) for r in q_rows])
    q_ids = np.array([r["vec_id"] for r in q_rows])
    q_nrm = np.sqrt(np.einsum("ij,ij->i", Q, Q))

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.stack(pdf["emb"].to_numpy())
            ids = pdf["vec_id"].to_numpy()
            c_nrm = np.sqrt(np.einsum("ij,ij->i", C, C))
            S = (C @ Q.T) / (c_nrm[:, None] * q_nrm[None, :])
            sq = np.floor(S * 1000000000).astype("int64")
            out_q, out_n, out_s = [], [], []
            for qi in range(len(q_ids)):
                col = sq[:, qi]
                mask = ids != q_ids[qi]
                cand_ids, cand_s = ids[mask], col[mask]
                # exact per-batch top-k under the global tie-break
                # (score desc, neighbor asc) — integer scores tie, so a
                # plain argpartition could keep the wrong tied member
                keep = np.lexsort((cand_ids, -cand_s))[:TOP_K]
                out_q += [q_ids[qi]] * len(keep)
                out_n += list(cand_ids[keep])
                out_s += list(cand_s[keep])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "score_q": out_s}
            )

    pairs = emb.mapInPandas(
        score, "query_id bigint, neighbor_id bigint, score_q bigint"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score_q").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
    )


@register(
    "dedup_embedding_fast",
    oracle=f"""
WITH vecs AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
),
normed AS (
  SELECT vec_id, label, emb, sqrt({_dot_sql('emb', 'emb')}) AS nrm FROM vecs
),
scored AS (
  SELECT a.vec_id AS left_id, b.vec_id AS right_id,
         CAST(floor({_dot_sql('a.emb', 'b.emb')} / (a.nrm * b.nrm)
                    * 1000000000) AS BIGINT) AS score_q
  FROM normed a JOIN normed b
    ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT left_id, right_id, score_q FROM scored WHERE score_q >= 250000000
""",
)
def dedup_embedding_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs on the PRODUCTION scoring path.

    The oracle twin (``dedup_embedding_cosine``) interprets one HOF fold
    per candidate pair, and a naive pandas-UDF pair scorer would ship
    every embedding through Arrow once PER PAIR (quadratic bytes). Here
    ``applyInPandas`` groups by the cluster label, each embedding ships
    once per group, and the whole within-group pair matrix computes as a
    single BLAS gram matrix ``G @ G.T`` — the shuffle is the one bucket
    repartition the candidate generation needs anyway, and Python sees
    O(corpus) bytes, not O(pairs). Integer nano-unit scores keep both
    engines exactly comparable."""
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("emb")
    )

    def gram(pdf: pd.DataFrame) -> pd.DataFrame:
        G = np.stack(pdf["emb"].to_numpy())
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        G, ids = G[order], ids[order]
        nrm = np.sqrt(np.einsum("ij,ij->i", G, G))
        S = (G @ G.T) / np.outer(nrm, nrm)
        iu = np.triu_indices(len(ids), k=1)
        sq = np.floor(S[iu] * 1000000000).astype("int64")
        m = sq >= 250000000
        return pd.DataFrame(
            {
                "left_id": ids[iu[0][m]],
                "right_id": ids[iu[1][m]],
                "score_q": sq[m],
            }
        )

    return emb.groupBy("label").applyInPandas(
        gram, "left_id bigint, right_id bigint, score_q bigint"
    )


def _hyperplanes(n_planes: int = 8, dim: int = 64) -> list[list[int]]:
    """Deterministic pseudo-random hyperplanes: integer weights in [-8, 7]
    derived from md5(plane-dim) — no RNG seed, identical in any engine or
    run, embeddable as SQL literals for the oracle."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{p}-{i}".encode()).hexdigest()[:2], 16) % 16 - 8
            for i in range(dim)
        ]
        for p in range(n_planes)
    ]


def _hyperplane_oracle() -> str:
    planes = _hyperplanes()
    terms = []
    for p, w in enumerate(planes):
        lst = "[" + ", ".join(str(v) for v in w) + "]::DOUBLE[]"
        d = _dot_sql(f"({lst})", "emb")
        terms.append(f"(CASE WHEN {d} > 0 THEN {1 << p} ELSE 0 END)")
    bucket = " + ".join(terms)
    return f"""
WITH vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
sig AS (
  SELECT vec_id, emb, sqrt({_dot_sql('emb', 'emb')}) AS nrm,
         CAST({bucket} AS BIGINT) AS bucket
  FROM vecs
),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.bucket AS bucket,
         {_dot_sql('q.emb', 'c.emb')} / (q.nrm * c.nrm) AS score
  FROM sig q JOIN sig c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
ranked AS (
  SELECT query_id, neighbor_id, bucket, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, bucket, score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


@register("ann_lsh_hyperplane", oracle=_hyperplane_oracle())
def ann_lsh_hyperplane(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN: each vector's 8-bit signature is the
    sign pattern of dot products with deterministic md5-derived
    hyperplanes; candidates must share the full signature bucket (the
    SimHash-for-vectors discipline). One narrow projection computes the
    signature, one equi-join on bucket carries the search — at 100 TB
    the signature pass is embarrassingly parallel and the join shuffles
    on a 256-value key with near-uniform occupancy; recall is tuned by
    bands/bits exactly like MinHash-LSH."""
    planes = _hyperplanes()
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("emb")
    )
    bucket = None
    for p, w in enumerate(planes):
        w_arr = F.array(*[F.lit(float(v)) for v in w])
        bit = F.when(dot(w_arr, F.col("emb")) > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    sig = emb.select(
        "vec_id", "emb", norm(F.col("emb")).alias("nrm"),
        bucket.cast("long").alias("bucket"),
    )
    q = sig.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("bucket"),
    )
    c = sig.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
        F.col("bucket").alias("bucket_c"),
    )
    pairs = (
        F.broadcast(q)
        .join(c, (F.col("bucket") == F.col("bucket_c")) & (F.col("query_id") != F.col("neighbor_id")))
        .select(
            "query_id",
            "neighbor_id",
            "bucket",
            (dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_nrm") * F.col("c_nrm"))).alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
    )


@register(
    "dedup_embedding_cosine",
    oracle=f"""
WITH vecs AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
),
normed AS (
  SELECT vec_id, label, emb, sqrt({_dot_sql('emb', 'emb')}) AS nrm FROM vecs
)
SELECT a.vec_id AS left_id, b.vec_id AS right_id,
       {_dot_sql('a.emb', 'b.emb')} / (a.nrm * b.nrm) AS score
FROM normed a JOIN normed b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_dot_sql('a.emb', 'b.emb')} / (a.nrm * b.nrm) >= 0.25
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate detection: pairs above 0.25 cosine,
    blocked by the cluster label (the IVF-bucket discipline — candidate
    pairs only form inside a bucket, never across the full corpus). At
    100 TB the bucket key carries the shuffle and per-bucket pair counts
    stay quadratic-in-bucket, linear overall."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("emb")
    )
    normed = emb.select(
        "vec_id", "label", "emb", norm(F.col("emb")).alias("nrm")
    )
    a = normed.select(
        F.col("label"),
        F.col("vec_id").alias("left_id"),
        F.col("emb").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
    )
    b = normed.select(
        F.col("label").alias("label_b"),
        F.col("vec_id").alias("right_id"),
        F.col("emb").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    score = dot(F.col("a_emb"), F.col("b_emb")) / (F.col("a_nrm") * F.col("b_nrm"))
    return (
        a.join(b, (F.col("label") == F.col("label_b")) & (F.col("left_id") < F.col("right_id")))
        .withColumn("score", score)
        .filter(F.col("score") >= 0.25)
        .select("left_id", "right_id", "score")
    )


@register(
    "dedup_semantic_semdedup",
    oracle=f"""
WITH RECURSIVE vecs AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
),
normed AS (
  SELECT vec_id, label, emb, sqrt({_dot_sql('emb', 'emb')}) AS nrm FROM vecs
),
edges AS (
  SELECT a.vec_id AS left_id, b.vec_id AS right_id
  FROM normed a JOIN normed b
    ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE CAST(floor({_dot_sql('a.emb', 'b.emb')} / (a.nrm * b.nrm)
             * 1000000000) AS BIGINT) >= 250000000
),
sym AS (
  SELECT left_id AS a, right_id AS b FROM edges
  UNION SELECT right_id, left_id FROM edges
),
reach AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
),
comp AS (SELECT a AS node, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a)
SELECT e.vec_id,
       COALESCE(c.component, e.vec_id) AS canonical_id,
       COALESCE(c.component, e.vec_id) = e.vec_id AS is_keeper
FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.node
""",
)
def dedup_semantic_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication, end to end: cluster-bucketed
    cosine pairs above threshold (the within-cluster similarity scan —
    candidate pairs never form across buckets) → connected components →
    one keeper per semantic-duplicate group (min vec_id), every other
    member marked for drop.

    This is the embedding-space analogue of dedup_near_cluster: the same
    distributed union-find the entity resolver uses, fed by vector
    similarity instead of MinHash bands. At 100 TB the label bucket is a
    real k-means assignment (ann_centroid_step iterated); the pair stage
    shuffles once on the bucket key, stays quadratic-in-bucket and linear
    overall, and the O(log d) pointer-jumping CC survives any cluster
    diameter. Oracle recomputes the closure with a recursive CTE."""
    from opensanctions_spark.operators.resolve import connected_components

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("emb")
    )
    # similarity edges on the PRODUCTION scoring path: one BLAS gram
    # matrix per label group under applyInPandas (see
    # dedup_embedding_fast) — O(corpus) bytes into Python instead of a
    # pair-expanded HOF fold, thresholded on the integer nano-unit score
    # so the oracle (same floor(cos·1e9) expression) compares exactly
    edges = dedup_embedding_fast(spark, sf_dir).select(
        "left_id", "right_id"
    )
    cc = connected_components(
        edges, src="left_id", dst="right_id", distinct_edges=False
    )
    mapping = cc.select(
        F.col("node").alias("vec_id"), F.col("component").alias("_canon")
    )
    return (
        load(spark, sf_dir, "embeddings")
        .select("vec_id")
        .join(mapping, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("_canon"), F.col("vec_id")).alias("canonical_id"),
            (F.coalesce(F.col("_canon"), F.col("vec_id")) == F.col("vec_id")).alias(
                "is_keeper"
            ),
        )
    )


@register(
    "ann_centroid_step",
    oracle="""
SELECT label,
       CAST(g.i AS INT) AS dim,
       CAST(SUM(CAST(floor(CAST(embedding[g.i + 1] AS DOUBLE) * 1000000)
                AS BIGINT))
            // COUNT(*) AS BIGINT) AS centroid_q,
       COUNT(*) AS n_members
FROM embeddings,
     LATERAL (SELECT UNNEST(range(len(embedding))) AS i) g
GROUP BY label, g.i
""",
)
def ann_centroid_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means assignment-free centroid update (the Lloyd's-step /
    IVF-training primitive): per-label mean vector over the embedding
    column, computed dimension-wise.

    Coordinates are quantized to integer micro-units (floor(x·1e6)) BEFORE
    summation, so the per-dimension mass and the floor-divided mean are
    exact and order-independent in any engine — the same integer-mass
    discipline as the PageRank and centrality queries, applied to vector
    math. At 100 TB: posexplode is map-side; the single shuffle carries
    (label, dim) partial sums — 64·k cells of state, independent of row
    count. A full k-means loop is this plan iterated with a broadcast
    centroid table feeding the assignment join."""
    emb = load(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label",
        F.posexplode(F.col("embedding")).alias("dim", "x"),
    ).select(
        "label",
        "dim",
        F.floor(F.col("x").cast("double") * 1000000).cast("long").alias("q"),
    )
    return (
        exploded.groupBy("label", "dim")
        .agg(
            F.expr("sum(q) div count(*)").cast("long").alias("centroid_q"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )


N_CLUSTERS = 8  # k for the trained-loop query


#: |embedding value| bound for the packed arg-min trick
#: (``_argmin_code``, ``ann_kmeans_loop``): with |x| ≤ 2.0 the micro-unit
#: coordinate has |q| ≤ 2·10⁶, the squared distance over 64 dims is
#: ≤ 64·(2·2·10⁶)² ≈ 10¹⁵, so ``dist·16 + code`` stays far inside int64
#: and the packing is exactly order-preserving. Inputs outside ±2.0
#: would silently wrap — fail loudly instead.
_X_BOUND = 2.0


def _quantized_dims(emb_df, id_col: str = "vec_id"):
    """(id, dim, q) integer micro-unit coordinates — the exact-arithmetic
    substrate every cross-engine vector query shares. Coordinates beyond
    the packed-argmin domain (|embedding value| > 2.0, checked on the
    raw value) raise instead of silently overflowing downstream
    ``min(dist*16+code)`` packings."""
    x = F.col("x").cast("double")
    q = F.floor(x * 1000000).cast("long")
    guarded = F.when(F.abs(x) <= F.lit(_X_BOUND), q).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "embedding coordinate outside the exact packed-argmin"
                    " domain (|value| > 2.0): value="
                ),
                x.cast("string"),
            )
        )
    )
    return emb_df.select(
        id_col,
        F.posexplode(F.col("embedding")).alias("dim", "x"),
    ).select(
        id_col,
        "dim",
        guarded.alias("q"),
    )


_KMEANS_ORACLE = f"""
WITH dims AS (
  SELECT vec_id, g.i AS dim,
         CAST(floor(CAST(embedding[g.i + 1] AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM embeddings, LATERAL (SELECT unnest(range(len(embedding))) AS i) g
),
c0 AS (
  SELECT vec_id AS cid, dim, q AS cq FROM dims WHERE vec_id < {N_CLUSTERS}
),
d1 AS (
  SELECT d.vec_id, c.cid, SUM((d.q - c.cq) * (d.q - c.cq)) AS dist
  FROM dims d JOIN c0 c ON d.dim = c.dim
  GROUP BY d.vec_id, c.cid
),
a1 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d1) WHERE rn = 1
),
c1 AS (
  SELECT a1.cid, d.dim, SUM(d.q) // COUNT(*) AS cq
  FROM dims d JOIN a1 ON d.vec_id = a1.vec_id
  GROUP BY a1.cid, d.dim
),
d2 AS (
  SELECT d.vec_id, c.cid, SUM((d.q - c.cq) * (d.q - c.cq)) AS dist
  FROM dims d JOIN c1 c ON d.dim = c.dim
  GROUP BY d.vec_id, c.cid
),
a2 AS (
  SELECT vec_id, cid, dist FROM (
    SELECT vec_id, cid, dist,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d2) WHERE rn = 1
)
SELECT cid AS cluster, COUNT(*) AS n_members,
       CAST(SUM(dist) AS BIGINT) AS inertia_q
FROM a2 GROUP BY cid
"""


@register("ann_kmeans_loop", oracle=_KMEANS_ORACLE)
def ann_kmeans_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A full k-means training loop (two Lloyd iterations, k=8): init
    centroids from the first k vectors, assign every vector to its
    nearest centroid, recompute centroids as per-dimension means,
    re-assign — returning per-cluster sizes and total inertia.

    All arithmetic is integer micro-units (floor(x·1e6)): squared-L2
    distances, floor-division means and inertia sums are exact and
    order-independent, so both engines agree bit-for-bit — the full-loop
    extension of ``ann_centroid_step``. Scale shape per iteration: the
    k×64-cell centroid table broadcasts into the assignment join (never
    a shuffle of the corpus side beyond the one (vec_id, cid) distance
    aggregation), and the centroid update aggregates k·64 cells of
    state. This IS the IVF trainer: the resulting assignment is the
    bucket map ``ann_ivf_bucketed`` consumes.

    Round 13: ``dims`` is lazily localCheckpoint-ed — it feeds four
    branches (init centroids, two assignment joins, the centroid
    update), each of which otherwise re-scans + re-explodes the
    embeddings (8 parquet scans in one plan). And the per-vector
    arg-min packs (dist, cid) into ONE long — ``min(dist·16 + cid)``,
    order-preserving because cid < 16 and dist ≤ 64·(2·10⁶)² ≪ 2⁶³/16 —
    so the nearest-centroid pick is a HashAggregate instead of a
    Sort + row_number window over every (vec, centroid) row (the PQ
    family's entry-7 discipline)."""
    emb = load(spark, sf_dir, "embeddings")
    dims = _quantized_dims(emb).transform(materialize, eager=False)

    def assign(cent):
        d = (
            dims.join(F.broadcast(cent), "dim")
            .groupBy("vec_id", "cid")
            .agg(
                F.sum(
                    (F.col("q") - F.col("cq")) * (F.col("q") - F.col("cq"))
                ).alias("dist")
            )
        )
        packed = d.groupBy("vec_id").agg(
            F.min(F.col("dist") * 16 + F.col("cid")).alias("_pk")
        )
        return packed.select(
            "vec_id",
            (F.col("_pk") % 16).cast("long").alias("cid"),
            F.expr("_pk div 16").alias("dist"),
        )

    c0 = dims.filter(F.col("vec_id") < N_CLUSTERS).select(
        F.col("vec_id").alias("cid"), "dim", F.col("q").alias("cq")
    )
    a1 = assign(c0).select("vec_id", "cid")
    c1 = (
        dims.join(a1, "vec_id")
        .groupBy("cid", "dim")
        .agg(F.expr("sum(q) div count(*)").cast("long").alias("cq"))
    )
    a2 = assign(c1)
    return a2.groupBy(F.col("cid").alias("cluster")).agg(
        F.count("*").alias("n_members"),
        F.sum("dist").cast("long").alias("inertia_q"),
    )


@register(
    "ann_ivf_nprobe2",
    oracle=f"""
WITH vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
),
buckets AS (
  SELECT vec_id, emb,
         CAST(list_position(emb, list_aggregate(emb, 'max')) AS BIGINT) AS b1
  FROM vecs
),
normed AS (
  SELECT vec_id, emb, b1, sqrt({_dot_sql('emb', 'emb')}) AS nrm FROM buckets
),
probes AS (
  SELECT vec_id, emb, nrm, b1,
         CAST(list_position(list_transform(range(1, len(emb) + 1),
                i -> CASE WHEN i = b1 THEN -1e18 ELSE emb[i] END),
              list_aggregate(list_transform(range(1, len(emb) + 1),
                i -> CASE WHEN i = b1 THEN -1e18 ELSE emb[i] END), 'max'))
              AS BIGINT) AS b2
  FROM normed
),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_dot_sql('q.emb', 'c.emb')} / (q.nrm * c.nrm) AS score
  FROM probes q JOIN normed c
    ON c.b1 IN (q.b1, q.b2) AND q.vec_id <> c.vec_id
  WHERE q.vec_id < {N_QUERIES}
),
ranked AS (
  SELECT query_id, neighbor_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id) AS rank
  FROM pairs
)
SELECT query_id, neighbor_id, score, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {TOP_K}
""",
)
def ann_ivf_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search with nprobe=2: the query probes its TWO nearest coarse
    buckets (argmax and second-argmax dimensions under the stand-in
    quantizer) while candidates stay in their single home bucket — the
    recall/latency dial every real IVF deployment turns. Scale shape:
    the query block explodes ×2 on its probe list and the candidate join
    stays a bucket equi-join (union of two probes, never a widening of
    the corpus side)."""
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("emb")
    )
    b1 = F.array_position(F.col("emb"), F.array_max(F.col("emb")))
    emb = emb.withColumn("b1", b1)
    masked = F.transform(
        F.col("emb"),
        lambda x, i: F.when(i + 1 == F.col("b1"), F.lit(-1e18)).otherwise(x),
    )
    normed = emb.select(
        "vec_id", "emb", "b1", norm(F.col("emb")).alias("nrm")
    )
    probes = normed.withColumn(
        "b2", F.array_position(masked, F.array_max(masked))
    )
    q = (
        probes.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
            F.explode(F.array("b1", "b2")).alias("probe"),
        )
    )
    c = normed.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
        F.col("b1").alias("bucket_c"),
    )
    pairs = (
        F.broadcast(q)
        .join(
            c,
            (F.col("probe") == F.col("bucket_c"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("q_emb"), F.col("c_emb"))
                / (F.col("q_nrm") * F.col("c_nrm"))
            ).alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= TOP_K)
    )


@register(
    "ann_recall_meta",
    oracle=f"""
WITH vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         CAST(list_position(embedding::DOUBLE[],
              list_aggregate(embedding::DOUBLE[], 'max')) AS BIGINT) AS bucket
  FROM embeddings
),
normed AS (
  SELECT vec_id, emb, bucket, sqrt({_dot_sql('emb', 'emb')}) AS nrm FROM vecs
),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             {_dot_sql('q.emb', 'c.emb')} / (q.nrm * c.nrm) DESC, c.vec_id)
             AS rank
    FROM normed q JOIN normed c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < {N_QUERIES}
  ) WHERE rank <= {TOP_K}
),
ivf AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             {_dot_sql('q.emb', 'c.emb')} / (q.nrm * c.nrm) DESC, c.vec_id)
             AS rank
    FROM normed q JOIN normed c
      ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
    WHERE q.vec_id < {N_QUERIES}
  ) WHERE rank <= {TOP_K}
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_recalled
FROM exact e
LEFT JOIN ivf i
  ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
""",
)
def ann_recall_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall meta-check: how many of the exact brute-force top-k
    does IVF nprobe=1 recover — the measured recall behind the
    bucket-count/nprobe dial (the vector-space analogue of
    ``dedup_lsh_recall``). Composes the two existing plans and
    aggregates the overlap to two exact integers; at 100 TB this is the
    periodic quality probe run on a sampled query set, never the full
    corpus."""
    exact = (
        QUERIES["ann_cosine_topk"](spark, sf_dir)
        .select("query_id", "neighbor_id")
    )
    approx = (
        QUERIES["ann_ivf_bucketed"](spark, sf_dir)
        .select(
            F.col("query_id").alias("q2"),
            F.col("neighbor_id").alias("n2"),
        )
    )
    joined = exact.join(
        approx,
        (exact["query_id"] == F.col("q2"))
        & (exact["neighbor_id"] == F.col("n2")),
        "left",
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(F.col("n2").isNotNull().cast("long")).alias("n_recalled"),
    )


# -- product quantization (round 9) ------------------------------------------

PQ_SUB = 16       # dims per subspace (64 dims → M = 64/16 = 4 subspaces)
PQ_K = 4          # codewords per subspace
PQ_TOPK = 10


def _pq_dims(emb_df):
    """Quantized (vec_id, dim, sub, q) coordinates — the shared PQ
    substrate (micro-unit dims + subspace index).

    Lazily localCheckpoint-ed: every PQ exhibit references this frame
    from 5+ plan branches (codebook init, Lloyd assignment, codebook
    update, encode, query LUT, coarse quantizer), and Spark duplicates
    an un-materialized subtree per reference — the scan + posexplode ran
    once per branch. The checkpoint materializes the exploded frame on
    first use and every branch reads its cached blocks (the
    ``text_tfidf_topk`` tf-table discipline). Lazy, so plan build stays
    job-free."""
    return (
        _quantized_dims(emb_df)
        .withColumn("sub", (F.col("dim") / PQ_SUB).cast("int"))
        .transform(materialize, eager=False)
    )


def _argmin_code(frame, codebook, keys, code_col):
    """Arg-min code per (vec_id[, sub]): one distance aggregation + a
    NUMERIC min (ties break (dist, code)) — no window sort. The codebook
    broadcasts.

    The (dist, code) pair packs into one long — ``dist * 16 + code`` —
    because codes are 0..7 (< 16) and dist is bounded by
    64 dims × (2·10⁶)² = 2.6·10¹⁴ micro-unit² (so ×16 stays far inside
    int64), and the packing is order-preserving on (dist, code). A
    struct-min would carry a struct aggregation buffer, which
    HashAggregate cannot hold in an UnsafeRow — the whole aggregation
    degraded to Sort + SortAggregate on both sides of its exchange
    (the minhash band lesson, round-13 entry 1)."""
    grp = ["vec_id"] + (["sub"] if "sub" in keys else [])
    d = (
        frame.join(F.broadcast(codebook), keys)
        .groupBy(*grp, code_col)
        .agg(
            F.sum(
                (F.col("q") - F.col("cq")) * (F.col("q") - F.col("cq"))
            ).alias("dist")
        )
    )
    return (
        d.groupBy(*grp)
        .agg(F.min(F.col("dist") * 16 + F.col(code_col)).alias("m"))
        .select(*grp, (F.col("m") % 16).alias(code_col))
    )


def _pq_train_encode_lut(dims):
    """The ONE product-quantizer pipeline both PQ exhibits share:
    per-subspace codebooks (first-k init + one Lloyd step, the
    ``ann_kmeans_loop`` discipline), the corpus's (vec_id, sub, pid)
    codes, and the query's full M×k (sub, pid, dist) LUT."""
    c0 = dims.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("pid"), "sub", "dim", F.col("q").alias("cq")
    )
    pa1 = _argmin_code(dims, c0, ["sub", "dim"], "pid")
    c1 = (
        dims.join(pa1, ["vec_id", "sub"])
        .groupBy("sub", "pid", "dim")
        .agg(F.expr("sum(q) div count(*)").alias("cq"))
    )
    codes = _argmin_code(dims, c1, ["sub", "dim"], "pid")
    lut = (
        dims.filter(F.col("vec_id") == 0)
        .join(F.broadcast(c1), ["sub", "dim"])
        .groupBy("sub", "pid")
        .agg(
            F.sum(
                (F.col("q") - F.col("cq")) * (F.col("q") - F.col("cq"))
            ).alias("dist")
        )
    )
    return codes, lut


def _adc_topk(codes, lut, cand=None):
    """ADC scoring: sum the query's LUT entries over each candidate's
    codes, smallest ``PQ_TOPK`` first (ties by id)."""
    scored = codes.filter(F.col("vec_id") != 0)
    if cand is not None:
        scored = scored.join(cand, "vec_id", "left_semi")
    scored = (
        scored.join(F.broadcast(lut), ["sub", "pid"])
        .groupBy("vec_id")
        .agg(F.sum("dist").cast("long").alias("adc_dist_q"))
    )
    return scored.orderBy("adc_dist_q", "vec_id").limit(PQ_TOPK)

_PQ_ORACLE = f"""
WITH dims AS (
  SELECT vec_id, g.i AS dim, g.i // {PQ_SUB} AS sub,
         CAST(floor(CAST(embedding[g.i + 1] AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM embeddings, LATERAL (SELECT unnest(range(len(embedding))) AS i) g
),
c0 AS (  -- codebook init: the first k vectors' subvectors
  SELECT vec_id AS cid, sub, dim, q AS cq FROM dims WHERE vec_id < {PQ_K}
),
d1 AS (  -- one Lloyd assignment per (vector, subspace)
  SELECT d.vec_id, d.sub, c.cid, SUM((d.q - c.cq) * (d.q - c.cq)) AS dist
  FROM dims d JOIN c0 c ON d.dim = c.dim AND d.sub = c.sub
  GROUP BY d.vec_id, d.sub, c.cid
),
a1 AS (
  SELECT vec_id, sub, cid FROM (
    SELECT vec_id, sub, cid,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
    FROM d1) WHERE rn = 1
),
c1 AS (  -- codebook update: per-(subspace, code, dim) floor-mean
  SELECT a1.sub, a1.cid, d.dim, SUM(d.q) // COUNT(*) AS cq
  FROM dims d JOIN a1 ON d.vec_id = a1.vec_id AND d.sub = a1.sub
  GROUP BY a1.sub, a1.cid, d.dim
),
d2 AS (  -- encode under the trained codebook
  SELECT d.vec_id, d.sub, c.cid, SUM((d.q - c.cq) * (d.q - c.cq)) AS dist
  FROM dims d JOIN c1 c ON d.dim = c.dim AND d.sub = c.sub
  GROUP BY d.vec_id, d.sub, c.cid
),
codes AS (
  SELECT vec_id, sub, cid FROM (
    SELECT vec_id, sub, cid,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, cid) AS rn
    FROM d2) WHERE rn = 1
),
lut AS (  -- the query's (subspace, code) distance table
  SELECT c.sub, c.cid, SUM((d.q - c.cq) * (d.q - c.cq)) AS dist
  FROM dims d JOIN c1 c ON d.dim = c.dim AND d.sub = c.sub
  WHERE d.vec_id = 0
  GROUP BY c.sub, c.cid
)
SELECT vec_id, CAST(adc AS BIGINT) AS adc_dist_q FROM (
  SELECT codes.vec_id, SUM(lut.dist) AS adc,
         row_number() OVER (ORDER BY SUM(lut.dist), codes.vec_id) AS rn
  FROM codes JOIN lut ON codes.sub = lut.sub AND codes.cid = lut.cid
  WHERE codes.vec_id <> 0
  GROUP BY codes.vec_id
) WHERE rn <= {PQ_TOPK}
"""


@register("ann_pq_adc", oracle=_PQ_ORACLE)
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization with asymmetric-distance scoring — the
    standard billion-vector ANN memory/compute reduction (IVF-PQ's PQ
    half): train per-subspace codebooks (deterministic init from the
    first k vectors + one Lloyd step, the ``ann_kmeans_loop``
    discipline), ENCODE every vector as M=4 one-byte-ish codes, build
    the query's (subspace, code) distance LUT, and score candidates by
    summing M LUT entries instead of 64-dim float math.

    Integer micro-units end-to-end (floor(x·1e6); floor-division means)
    so both engines agree bit-for-bit; ties break on (distance, id).

    Scale shape: the codebook (M·k·16 = 256 cells) and the LUT (M·k =
    16 rows) BROADCAST; training/encode cost one (vec, subspace, code)
    aggregation each (min via struct-min, no window sort); scoring is a
    broadcast LUT join + a per-vector sum + TakeOrderedAndProject —
    the corpus never shuffles its raw vectors. Composes with
    ``ann_ivf_bucketed``: PQ codes inside IVF buckets is the IVF-PQ
    layout (Jégou et al., 2011)."""
    dims = _pq_dims(load(spark, sf_dir, "embeddings"))
    codes, lut = _pq_train_encode_lut(dims)
    return _adc_topk(codes, lut)


_IVF_PQ_ORACLE = f"""
WITH dims AS (
  SELECT vec_id, g.i AS dim, g.i // {PQ_SUB} AS sub,
         CAST(floor(CAST(embedding[g.i + 1] AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM embeddings, LATERAL (SELECT unnest(range(len(embedding))) AS i) g
),
-- coarse quantizer: k=8 full-dimension centroids, first-k init + one
-- Lloyd step (the ann_kmeans_loop discipline)
k0 AS (SELECT vec_id AS cid, dim, q AS cq FROM dims WHERE vec_id < 8),
kd1 AS (
  SELECT d.vec_id, c.cid, SUM((d.q - c.cq) * (d.q - c.cq)) AS dist
  FROM dims d JOIN k0 c ON d.dim = c.dim GROUP BY d.vec_id, c.cid
),
ka1 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM kd1) WHERE rn = 1
),
k1 AS (
  SELECT ka1.cid, d.dim, SUM(d.q) // COUNT(*) AS cq
  FROM dims d JOIN ka1 ON d.vec_id = ka1.vec_id GROUP BY ka1.cid, d.dim
),
kd2 AS (
  SELECT d.vec_id, c.cid, SUM((d.q - c.cq) * (d.q - c.cq)) AS dist
  FROM dims d JOIN k1 c ON d.dim = c.dim GROUP BY d.vec_id, c.cid
),
buckets AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM kd2) WHERE rn = 1
),
probes AS (  -- the query's nprobe=2 nearest coarse cells
  SELECT cid FROM kd2 WHERE vec_id = 0 ORDER BY dist, cid LIMIT 2
),
cand AS (
  SELECT vec_id FROM buckets
  WHERE cid IN (SELECT cid FROM probes) AND vec_id <> 0
),
-- product quantizer (identical to ann_pq_adc): per-subspace codebooks
c0 AS (SELECT vec_id AS pid, sub, dim, q AS cq FROM dims WHERE vec_id < {PQ_K}),
pd1 AS (
  SELECT d.vec_id, d.sub, c.pid, SUM((d.q - c.cq) * (d.q - c.cq)) AS dist
  FROM dims d JOIN c0 c ON d.dim = c.dim AND d.sub = c.sub
  GROUP BY d.vec_id, d.sub, c.pid
),
pa1 AS (
  SELECT vec_id, sub, pid FROM (
    SELECT vec_id, sub, pid,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, pid) AS rn
    FROM pd1) WHERE rn = 1
),
c1 AS (
  SELECT pa1.sub, pa1.pid, d.dim, SUM(d.q) // COUNT(*) AS cq
  FROM dims d JOIN pa1 ON d.vec_id = pa1.vec_id AND d.sub = pa1.sub
  GROUP BY pa1.sub, pa1.pid, d.dim
),
pd2 AS (
  SELECT d.vec_id, d.sub, c.pid, SUM((d.q - c.cq) * (d.q - c.cq)) AS dist
  FROM dims d JOIN c1 c ON d.dim = c.dim AND d.sub = c.sub
  GROUP BY d.vec_id, d.sub, c.pid
),
codes AS (
  SELECT vec_id, sub, pid FROM (
    SELECT vec_id, sub, pid,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, pid) AS rn
    FROM pd2) WHERE rn = 1
),
lut AS (
  SELECT c.sub, c.pid, SUM((d.q - c.cq) * (d.q - c.cq)) AS dist
  FROM dims d JOIN c1 c ON d.dim = c.dim AND d.sub = c.sub
  WHERE d.vec_id = 0 GROUP BY c.sub, c.pid
)
SELECT vec_id, CAST(adc AS BIGINT) AS adc_dist_q FROM (
  SELECT codes.vec_id, SUM(lut.dist) AS adc,
         row_number() OVER (ORDER BY SUM(lut.dist), codes.vec_id) AS rn
  FROM codes
  JOIN cand ON codes.vec_id = cand.vec_id
  JOIN lut ON codes.sub = lut.sub AND codes.pid = lut.pid
  GROUP BY codes.vec_id
) WHERE rn <= {PQ_TOPK}
"""


@register("ann_ivf_pq", oracle=_IVF_PQ_ORACLE)
def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ end-to-end (Jégou et al., 2011 — THE billion-vector
    layout): a coarse k=8 quantizer (first-k init + one Lloyd step)
    partitions the corpus into cells, the query probes its nprobe=2
    nearest cells, and only those candidates are scored — by summed
    broadcast-LUT entries over their M=4 PQ codes, never raw 64-dim
    math. Integer micro-units throughout; ties break (distance, id).

    Scale shape: both codebooks and the probe list BROADCAST; the
    corpus-side work is two bucket-assignment aggregations (coarse +
    PQ), a semi-join of codes against the probed cells, and a
    TakeOrderedAndProject — candidate scoring cost is
    |probed cells| × M LUT adds per vector, the property that makes
    billion-vector serving tractable."""
    dims = _pq_dims(load(spark, sf_dir, "embeddings"))
    k1, buckets = _coarse_quantizer(dims)
    # the query's nprobe=2 nearest coarse cells
    probes = (
        _query_cell_dists(dims, k1)
        .orderBy("dist", "cid")
        .limit(2)
        .select("cid")
    )
    cand = (
        buckets.join(F.broadcast(probes), "cid", "left_semi")
        .filter(F.col("vec_id") != 0)
        .select("vec_id")
    )
    # the shared product quantizer, scored over the probed cells only
    codes, lut = _pq_train_encode_lut(dims)
    return _adc_topk(codes, lut, cand=cand)


def _coarse_quantizer(dims):
    """The IVF coarse quantizer both IVF-PQ exhibits share: k=8
    full-dimension centroids (first-k init + one Lloyd step, the
    ``ann_kmeans_loop`` discipline) and every vector's cell
    assignment. Returns (trained centroids k1, (vec_id, cid) buckets)."""
    k0 = dims.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), "dim", F.col("q").alias("cq")
    )
    ka1 = _argmin_code(dims, k0, ["dim"], "cid")
    k1 = (
        dims.join(ka1, "vec_id")
        .groupBy("cid", "dim")
        .agg(F.expr("sum(q) div count(*)").alias("cq"))
    )
    return k1, _argmin_code(dims, k1, ["dim"], "cid")


def _query_cell_dists(dims, k1):
    """The query's (cid, dist) table under the trained coarse
    centroids — 8 rows, the probe-ordering substrate."""
    return (
        dims.filter(F.col("vec_id") == 0)
        .join(F.broadcast(k1), "dim")
        .groupBy("cid")
        .agg(
            F.sum(
                (F.col("q") - F.col("cq")) * (F.col("q") - F.col("cq"))
            ).alias("dist")
        )
    )


_IVFPQ_RECALL_ORACLE = f"""
WITH dims AS (
  SELECT vec_id, g.i AS dim, g.i // {PQ_SUB} AS sub,
         CAST(floor(CAST(embedding[g.i + 1] AS DOUBLE) * 1000000) AS BIGINT) AS q
  FROM embeddings, LATERAL (SELECT unnest(range(len(embedding))) AS i) g
),
k0 AS (SELECT vec_id AS cid, dim, q AS cq FROM dims WHERE vec_id < 8),
kd1 AS (
  SELECT d.vec_id, c.cid, SUM((d.q - c.cq) * (d.q - c.cq)) AS dist
  FROM dims d JOIN k0 c ON d.dim = c.dim GROUP BY d.vec_id, c.cid
),
ka1 AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM kd1) WHERE rn = 1
),
k1 AS (
  SELECT ka1.cid, d.dim, SUM(d.q) // COUNT(*) AS cq
  FROM dims d JOIN ka1 ON d.vec_id = ka1.vec_id GROUP BY ka1.cid, d.dim
),
kd2 AS (
  SELECT d.vec_id, c.cid, SUM((d.q - c.cq) * (d.q - c.cq)) AS dist
  FROM dims d JOIN k1 c ON d.dim = c.dim GROUP BY d.vec_id, c.cid
),
buckets AS (
  SELECT vec_id, cid FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM kd2) WHERE rn = 1
),
pranks AS (  -- the query's coarse cells ranked by distance
  SELECT cid, row_number() OVER (ORDER BY dist, cid) AS prank
  FROM kd2 WHERE vec_id = 0
),
c0 AS (SELECT vec_id AS pid, sub, dim, q AS cq FROM dims WHERE vec_id < {PQ_K}),
pd1 AS (
  SELECT d.vec_id, d.sub, c.pid, SUM((d.q - c.cq) * (d.q - c.cq)) AS dist
  FROM dims d JOIN c0 c ON d.dim = c.dim AND d.sub = c.sub
  GROUP BY d.vec_id, d.sub, c.pid
),
pa1 AS (
  SELECT vec_id, sub, pid FROM (
    SELECT vec_id, sub, pid,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, pid) AS rn
    FROM pd1) WHERE rn = 1
),
c1 AS (
  SELECT pa1.sub, pa1.pid, d.dim, SUM(d.q) // COUNT(*) AS cq
  FROM dims d JOIN pa1 ON d.vec_id = pa1.vec_id AND d.sub = pa1.sub
  GROUP BY pa1.sub, pa1.pid, d.dim
),
pd2 AS (
  SELECT d.vec_id, d.sub, c.pid, SUM((d.q - c.cq) * (d.q - c.cq)) AS dist
  FROM dims d JOIN c1 c ON d.dim = c.dim AND d.sub = c.sub
  GROUP BY d.vec_id, d.sub, c.pid
),
codes AS (
  SELECT vec_id, sub, pid FROM (
    SELECT vec_id, sub, pid,
           row_number() OVER (PARTITION BY vec_id, sub ORDER BY dist, pid) AS rn
    FROM pd2) WHERE rn = 1
),
lut AS (
  SELECT c.sub, c.pid, SUM((d.q - c.cq) * (d.q - c.cq)) AS dist
  FROM dims d JOIN c1 c ON d.dim = c.dim AND d.sub = c.sub
  WHERE d.vec_id = 0 GROUP BY c.sub, c.pid
),
adc AS (  -- every non-query vector's ADC distance
  SELECT codes.vec_id, SUM(lut.dist) AS adc
  FROM codes JOIN lut ON codes.sub = lut.sub AND codes.pid = lut.pid
  WHERE codes.vec_id <> 0 GROUP BY codes.vec_id
),
exact AS (  -- ground truth: true L2 top-10 over the quantized dims
  SELECT d.vec_id FROM dims d JOIN dims q ON d.dim = q.dim AND q.vec_id = 0
  WHERE d.vec_id <> 0 GROUP BY d.vec_id
  ORDER BY SUM((d.q - q.q) * (d.q - q.q)), d.vec_id LIMIT 10
),
cand AS (
  SELECT np.nprobe, a.vec_id, a.adc
  FROM adc a
  JOIN buckets b ON a.vec_id = b.vec_id
  JOIN pranks p ON b.cid = p.cid
  JOIN (VALUES (1), (2), (4)) np(nprobe) ON p.prank <= np.nprobe
),
topk AS (
  SELECT nprobe, vec_id FROM (
    SELECT nprobe, vec_id,
           row_number() OVER (PARTITION BY nprobe ORDER BY adc, vec_id) AS rn
    FROM cand) WHERE rn <= {PQ_TOPK}
)
SELECT CAST(t.nprobe AS BIGINT) AS nprobe,
       CAST(COUNT(*) AS BIGINT) AS n_topk,
       CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_recalled
FROM topk t LEFT JOIN exact e ON t.vec_id = e.vec_id
GROUP BY t.nprobe
"""


@register("ann_ivfpq_recall", oracle=_IVFPQ_RECALL_ORACLE)
def ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF-PQ recall curve (Jégou et al., 2011, Table IV shape):
    recall@10 of the ``ann_ivf_pq`` layout against the true-L2 top-10
    at nprobe ∈ {1, 2, 4} — the quality dial every IVF deployment is
    tuned with, now a value-checked catalog row rather than a plan
    gate. Per nprobe: ``n_topk`` (how many candidates the probed cells
    yielded, ≤10) and ``n_recalled`` (how many of the exact top-10 they
    contain); recall@10 = n_recalled / 10.

    Scale shape: everything the corpus-sized side touches broadcasts —
    the trained coarse centroids, the 8-row probe-rank table, the M×k
    LUT, and the 3-row nprobe dimension; corpus work is the shared
    cell/code assignments plus ONE per-nprobe top-k window over
    ≤3× the probed candidates. The ground-truth brute-force side exists
    only because this IS the quality probe — run on a sampled query
    set at 100 TB, never the full corpus (same discipline as
    ``ann_recall_meta``)."""
    from pyspark.sql import Window

    dims = _pq_dims(load(spark, sf_dir, "embeddings"))
    k1, buckets = _coarse_quantizer(dims)
    pranks_w = Window.orderBy("dist", "cid")
    pranks = _query_cell_dists(dims, k1).select(
        "cid", F.row_number().over(pranks_w).alias("prank")
    )
    codes, lut = _pq_train_encode_lut(dims)
    adc = (
        codes.filter(F.col("vec_id") != 0)
        .join(F.broadcast(lut), ["sub", "pid"])
        .groupBy("vec_id")
        .agg(F.sum("dist").alias("adc"))
    )
    qdims = dims.filter(F.col("vec_id") == 0).select(
        "dim", F.col("q").alias("qq")
    )
    exact = (
        dims.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qdims), "dim")
        .groupBy("vec_id")
        .agg(
            F.sum((F.col("q") - F.col("qq")) * (F.col("q") - F.col("qq"))
                  ).alias("edist")
        )
        .orderBy("edist", "vec_id")
        .limit(PQ_TOPK)
        .select(F.col("vec_id").alias("evid"))
    )
    nprobes = spark.createDataFrame([(1,), (2,), (4,)], "nprobe long")
    cand = (
        adc.join(buckets, "vec_id")
        .join(F.broadcast(pranks), "cid")
        .join(F.broadcast(nprobes), F.col("prank") <= F.col("nprobe"))
    )
    by_probe = Window.partitionBy("nprobe").orderBy("adc", "vec_id")
    topk = cand.select(
        "nprobe", "vec_id", F.row_number().over(by_probe).alias("rn")
    ).filter(F.col("rn") <= PQ_TOPK)
    return (
        topk.join(F.broadcast(exact), topk["vec_id"] == F.col("evid"), "left")
        .groupBy("nprobe")
        .agg(
            F.count(F.lit(1)).alias("n_topk"),
            F.sum(F.col("evid").isNotNull().cast("long")).alias("n_recalled"),
        )
    )
