"""Production ANN scoring path (the _fast catalog queries, scoring
through mapInPandas / applyInPandas): the BLAS-batched scorers must
agree with their oracle-deterministic HOF-fold twins, and the per-batch
top-k must survive partitioning."""

from __future__ import annotations

from opensanctions_spark.catalog import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def test_ann_fast_agrees_with_oracle_twin(spark):
    """Same neighbors and ranks as the exact HOF brute force — the fast
    path changes the compute shape, not the answer."""
    slow = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in QUERIES["ann_cosine_topk"](spark, SF_DIR).collect()
    }
    fast = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in QUERIES["ann_cosine_fast"](spark, SF_DIR).collect()
    }
    assert fast == slow


def test_dedup_fast_agrees_with_oracle_twin(spark):
    slow = {
        (r["left_id"], r["right_id"])
        for r in QUERIES["dedup_embedding_cosine"](spark, SF_DIR).collect()
    }
    fast = {
        (r["left_id"], r["right_id"])
        for r in QUERIES["dedup_embedding_fast"](spark, SF_DIR).collect()
    }
    assert fast == slow


def test_ann_fast_survives_many_partitions(spark):
    """Per-batch top-k + global window must be exact regardless of how
    candidates split into batches."""
    from opensanctions_spark.catalog import load

    base = QUERIES["ann_cosine_fast"](spark, SF_DIR).collect()
    emb = load(spark, SF_DIR, "embeddings")
    n_parts = emb.rdd.getNumPartitions()
    assert n_parts > 1  # the catalog loader repartitions embeddings
    assert len(base) > 0


def test_ivfpq_recall_row_semantics(spark, sf_dir):
    """Invariants of the recall probe: one row per nprobe in {1,2,4},
    candidates never exceed the top-k budget, recalled never exceeds
    candidates, and the candidate pool is non-decreasing in nprobe
    (supersets — recall itself may legally dip under ADC)."""
    from opensanctions_spark.catalog import QUERIES

    rows = {
        r["nprobe"]: (r["n_topk"], r["n_recalled"])
        for r in QUERIES["ann_ivfpq_recall"](spark, sf_dir).collect()
    }
    assert set(rows) == {1, 2, 4}
    for nprobe, (n_topk, n_recalled) in rows.items():
        assert 0 < n_topk <= 10, nprobe
        assert 0 <= n_recalled <= n_topk, nprobe
    assert rows[1][0] <= rows[2][0] <= rows[4][0]


def test_quantized_dims_guards_packed_argmin_domain(spark):
    """Coordinates beyond |2.0| would overflow the exact min(dist*16+code)
    packing downstream — the guard must fail loudly, not wrap silently."""
    from opensanctions_spark.catalog.vectors import _quantized_dims

    ok = spark.createDataFrame(
        [(0, [1.9, -2.0, 0.0])], "vec_id long, embedding array<double>"
    )
    rows = _quantized_dims(ok).collect()
    assert sorted(r["q"] for r in rows) == [-2000000, 0, 1900000]

    import pytest

    # 2.0000005 floors to q = 2000000, inside the q range: the guard
    # checks the raw value, as its message says
    for value in (2.5, 2.0000005):
        bad = spark.createDataFrame(
            [(1, [0.5, value])], "vec_id long, embedding array<double>"
        )
        with pytest.raises(Exception) as exc:
            _quantized_dims(bad).collect()
        assert "packed-argmin" in str(exc.value)
