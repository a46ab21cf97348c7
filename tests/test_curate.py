"""End-to-end tests for the corpus-curation plan (plans/curate.py).

The composition query's cross-engine values are pinned by the DuckDB
oracle (pipeline_curate_corpus); here we pin the PLAN-level invariants a
training-data consumer relies on, plus the CLI surface.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from opensanctions_spark.plans.curate import (
    CurationConfig,
    curate_corpus,
    curation_stats,
)

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_curated_corpus_invariants(spark):
    docs = _docs(spark)
    cfg = CurationConfig()
    curated = curate_corpus(docs, cfg).cache()
    rows = curated.collect()
    assert 0 < len(rows) <= docs.count()

    # quality gate: every survivor inside the token bounds
    assert all(cfg.min_tokens <= r["n_tokens"] <= cfg.max_tokens for r in rows)

    # exact dedup: no two survivors share a text fingerprint
    joined = curated.join(docs, "doc_id").select(F.md5("text").alias("fp"))
    assert joined.count() == joined.distinct().count()

    # split is total and deterministic (re-running moves nothing)
    assert {r["split"] for r in rows} <= {"train", "val", "test"}
    again = {r["doc_id"]: r["split"] for r in curate_corpus(docs, cfg).collect()}
    assert all(again[r["doc_id"]] == r["split"] for r in rows)

    # packing: offsets within the window; doc stream per (split, lang) is
    # gapless — each doc starts where the previous one's tokens ended
    assert all(0 <= r["pack_offset"] < cfg.context_tokens for r in rows)
    by_stream: dict = {}
    for r in sorted(rows, key=lambda r: (r["split"], r["lang"], r["doc_id"])):
        key = (r["split"], r["lang"])
        start = r["pack_id"] * cfg.context_tokens + r["pack_offset"]
        assert start == by_stream.get(key, 0)
        by_stream[key] = start + r["n_tokens"]
    curated.unpersist()


def test_stats_funnel_is_monotonic(spark):
    docs = _docs(spark)
    curated = curate_corpus(docs)
    stats = curation_stats(docs, curated)
    assert stats["curated_docs"] <= stats["input_docs"]
    split_total = sum(stats.get(f"{s}_docs", 0) for s in ("train", "val", "test"))
    assert split_total == stats["curated_docs"]
    assert stats.get("train_docs", 0) >= stats.get("val_docs", 0)


def test_cli_curate(tmp_path, capsys):
    from opensanctions_spark.__main__ import main

    out = tmp_path / "curated"
    rc = main(
        [
            "curate",
            "--documents",
            f"{SF_DIR}/documents.parquet",
            "--out",
            str(out),
        ]
    )
    assert rc == 0
    stats = json.loads(capsys.readouterr().out)
    assert stats["curated_docs"] > 0
    assert any(p.name.startswith("split=") for p in out.iterdir())


def test_incremental_curation_matches_batch_partition(spark):
    """Split the corpus into two waves; wave-1 batch curation + wave-2
    increment must (a) never re-admit an exact or near duplicate of the
    wave-1 corpus, (b) keep exactly the wave-2 docs whose duplicate
    groups have no wave-1 member (modulo within-group keeper choice),
    (c) assign the same stable split a full batch run would."""
    from pyspark.sql import functions as F

    from opensanctions_spark.plans.curate import (
        curate_increment,
        curation_index,
    )

    docs = _docs(spark)
    wave1 = docs.filter(F.col("doc_id") % 2 == 0)
    wave2 = docs.filter(F.col("doc_id") % 2 == 1)

    curated1 = curate_corpus(wave1).cache()
    fps, bands = curation_index(wave1, curated1)
    inc = curate_increment(wave2, fps, bands).cache()

    inc_rows = inc.collect()
    assert inc_rows, "wave 2 should contribute new documents"
    # increment only ever admits wave-2 docs
    assert all(r["doc_id"] % 2 == 1 for r in inc_rows)

    # (a) no admitted doc exactly duplicates the wave-1 corpus
    kept1_texts = {
        r["text"]
        for r in wave1.join(curated1.select("doc_id"), "doc_id", "left_semi")
        .select("text")
        .collect()
    }
    inc_texts = {
        r["text"]
        for r in wave2.join(inc.select("doc_id"), "doc_id", "left_semi")
        .select("text")
        .collect()
    }
    assert not (kept1_texts & inc_texts)

    # (c) split assignment is identical to what the batch plan computes
    batch_all = curate_corpus(docs)
    batch_splits = {r["doc_id"]: r["split"] for r in batch_all.collect()}
    for r in inc_rows:
        if r["doc_id"] in batch_splits:
            assert batch_splits[r["doc_id"]] == r["split"]

    # union corpus has no duplicate fingerprints at all
    union_ids = [r["doc_id"] for r in curated1.select("doc_id").collect()]
    union_ids += [r["doc_id"] for r in inc.select("doc_id").collect()]
    fp_rows = (
        docs.filter(F.col("doc_id").isin(union_ids))
        .select(F.md5("text").alias("fp"))
        .collect()
    )
    fps_list = [r["fp"] for r in fp_rows]
    assert len(fps_list) == len(set(fps_list))


def test_minhash_stop_band_cap(spark):
    """The LSH bucket-size cap drops oversized (boilerplate) band buckets
    entirely while leaving small buckets' pairs intact — bounding the
    quadratic pair expansion on skewed corpora."""
    from opensanctions_spark.catalog.text import minhash_pairs_of

    rows = [(i, "boilerplate shingle") for i in range(20)]
    rows += [(100, "rare shingle"), (101, "rare shingle")]
    shingles = spark.createDataFrame(rows, "doc_id long, shingle string")

    exact = minhash_pairs_of(shingles).collect()
    assert len(exact) == 20 * 19 // 2 + 1

    capped = minhash_pairs_of(shingles, max_bucket_size=10).collect()
    assert {(r["left_id"], r["right_id"]) for r in capped} == {(100, 101)}


def test_streaming_curation_accumulates_index(spark, tmp_path):
    """Three document waves through the streaming curation bridge: the
    on-disk index must accumulate across micro-batches so wave-2 exact
    copies of wave-1 documents are dropped (first wave wins), in-wave
    duplicates keep the min doc_id, and the final corpus carries no
    repeated content fingerprint."""
    from opensanctions_spark.streaming.curate import (
        curate_document_stream,
        load_curation_index,
    )

    docs = _docs(spark)
    in_dir = str(tmp_path / "incoming")
    out_dir = str(tmp_path / "corpus")
    index_dir = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")

    wave1 = docs.filter(F.col("doc_id") < 150)
    # wave 2: fresh docs + exact copies of wave-1 content under new ids
    # + one in-wave duplicate pair (same text, ids 20000/20001)
    dup_text = docs.filter(F.col("doc_id") == 400).select("text", "lang", "source")
    wave2 = (
        docs.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 250))
        .unionByName(
            wave1.limit(40).select(
                (F.col("doc_id") + 10000).alias("doc_id"),
                "text", "lang", "source", "n_chars",
            )
        )
        .unionByName(
            dup_text.crossJoin(
                spark.range(20000, 20002).select(F.col("id").alias("doc_id"))
            ).select("doc_id", "text", "lang", "source", F.lit(0).alias("n_chars"))
        )
    )
    wave3 = docs.filter((F.col("doc_id") >= 250) & (F.col("doc_id") < 300))

    schema = wave1.schema
    for wave in (wave1, wave2, wave3):
        wave.write.mode("append").parquet(in_dir)
        stream = spark.readStream.schema(schema).parquet(in_dir)
        q = curate_document_stream(stream, index_dir, out_dir, ckpt)
        q.awaitTermination()

    curated = spark.read.parquet(out_dir)
    ids = {r["doc_id"] for r in curated.select("doc_id").collect()}

    # wave-2 exact copies of wave-1 content never survive
    assert not {i for i in ids if 10000 <= i < 20000}
    # the in-wave duplicate pair keeps only the min id (doc 400's text may
    # itself already be in the corpus from an earlier wave — then neither)
    assert 20001 not in ids

    # no repeated fingerprint across the whole streamed corpus
    all_docs = spark.read.schema(schema).parquet(in_dir)
    fps = (
        all_docs.join(curated.select("doc_id"), "doc_id", "left_semi")
        .select(F.md5("text").alias("fp"))
    )
    assert fps.count() == fps.distinct().count()

    # the index holds exactly the kept docs' fingerprints and band rows
    fps_idx, bands_idx = load_curation_index(spark, index_dir)
    assert fps_idx.count() == len(ids)
    assert bands_idx.select("doc_id").distinct().count() == len(ids)


def test_load_curation_index_refuses_legacy_layout(spark, tmp_path):
    """An index in the old two-directory layout must fail loudly: read
    as an absent ``entries`` relation it would look empty and every
    duplicate it records would be re-admitted."""
    import pytest

    from opensanctions_spark.streaming.curate import load_curation_index

    index_dir = str(tmp_path / "index")
    fps, bands = load_curation_index(spark, index_dir)  # absent: empty
    assert fps.count() == 0 and bands.count() == 0
    spark.createDataFrame([("f0",)], "fp string").write.parquet(
        f"{index_dir}/fingerprints"
    )
    with pytest.raises(ValueError, match="fingerprints") as exc:
        load_curation_index(spark, index_dir)
    assert index_dir in str(exc.value)
