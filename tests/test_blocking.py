"""Unit tests: blocking candidate join + top-k (SURVEY J5/T1/T3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opensanctions_spark.operators.blocking import (
    _PAIR_CHUNK,
    bucket_pairs,
    jaccard_scored_pairs,
    tokenize,
    top_k_per_subject,
)


def test_tokenize_lowercase_distinct(spark):
    df = spark.createDataFrame([(1, "Acme ACME Corp!")], ["id", "name"])
    toks = {r["token"] for r in tokenize(df, "id", "name").collect()}
    assert toks == {"acme", "corp"}


def test_jaccard_pairs_shared_counts(spark):
    df = spark.createDataFrame(
        [(1, "john smith"), (2, "john q smith"), (3, "alice jones")],
        ["id", "name"],
    )
    toks = tokenize(df, "id", "name")
    pairs = {
        (r["subject_id"], r["candidate_id"]): r["shared"]
        for r in jaccard_scored_pairs(toks).collect()
    }
    assert pairs[(1, 2)] == 2 and pairs[(2, 1)] == 2
    assert (1, 3) not in pairs


def test_token_frequency_cap_drops_stopwords(spark):
    # "inc" appears in every name → with cap 2 it generates no pairs
    df = spark.createDataFrame(
        [(1, "acme inc"), (2, "zeta inc"), (3, "gamma inc")], ["id", "name"]
    )
    toks = tokenize(df, "id", "name")
    assert jaccard_scored_pairs(toks, max_token_freq=2).count() == 0
    assert jaccard_scored_pairs(toks).count() == 6


# one bucket wider than two pair chunks, so subject positions cross both
# chunk boundaries, plus small buckets that fit in one chunk
_WIDE = list(range(600))
_BUCKETS = [_WIDE, [1000, 1001], [2000, 2001, 2002], list(range(3000, 3006))]


@pytest.mark.parametrize("partners", ["later", "others", "targets"])
def test_bucket_pairs_across_chunk_boundaries(spark, partners):
    """bucket_pairs emits each bucket's pairs exactly once across chunk
    boundaries: n(n-1)/2 ordered pairs, n(n-1) directional pairs or
    |S|·|T| bipartite pairs per bucket, as plain Python counts them."""
    assert len(_WIDE) > 2 * _PAIR_CHUNK
    rows = [(ids, [-1 - i for i in range(len(ids) % 5 + 2)]) for ids in _BUCKETS]
    buckets = spark.createDataFrame(
        rows, "members array<long>, targets array<long>"
    )
    pairs = bucket_pairs(
        buckets,
        "members",
        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
        partners=partners,
    )
    got = sorted((r["a"], r["b"]) for r in pairs.collect())
    want = []
    for ids, targets in rows:
        n = len(ids)
        if partners == "later":
            want += [(ids[i], ids[j]) for i in range(n) for j in range(i + 1, n)]
        elif partners == "others":
            want += [(ids[i], ids[j]) for i in range(n) for j in range(n) if i != j]
        else:
            want += [(a, b) for a in ids for b in targets]
    assert got == sorted(want)


def test_minhash_stop_band_cap_drops_wide_bucket(spark):
    """max_bucket_size drops a band bucket wider than the cap — the wide
    bucket of the chunk-boundary test — and keeps the small ones."""
    from opensanctions_spark.catalog.text import minhash_pairs_of

    bands = spark.createDataFrame(
        [(d, 0, 1) for d in _WIDE]
        + [(1000, 0, 2), (1001, 0, 2), (1000, 1, 3), (1001, 1, 3)],
        "doc_id long, k long, mh long",
    )
    uncapped = minhash_pairs_of(None, bands=bands)
    assert uncapped.count() == len(_WIDE) * (len(_WIDE) - 1) // 2 + 1
    capped = minhash_pairs_of(None, max_bucket_size=len(_WIDE) - 1, bands=bands)
    assert [tuple(r) for r in capped.collect()] == [(1000, 1001, 2)]


def test_top_k_deterministic_ties(spark):
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a b"), (4, "a b")], ["id", "name"]
    )
    scored = jaccard_scored_pairs(tokenize(df, "id", "name"))
    top = top_k_per_subject(scored, k=2)
    got = {
        (r["subject_id"], r["rank"]): r["candidate_id"] for r in top.collect()
    }
    # all scores tie at 1.0 → candidates must come in id order
    assert got[(1, 1)] == 2 and got[(1, 2)] == 3
    assert got[(4, 1)] == 1 and got[(4, 2)] == 2


def test_fused_topk_matches_two_stage_form(spark):
    """The fused single-exchange top-k must agree with
    jaccard_scored_pairs + top_k_per_subject on every (subject, rank)."""
    from opensanctions_spark.operators.blocking import (
        jaccard_scored_pairs,
        top_k_blocked_matches,
        top_k_per_subject,
    )

    rows = []
    for i in range(40):
        toks = [f"t{i % 7}", f"t{(i * 3) % 11}", f"u{i % 5}"]
        rows += [(i, t) for t in set(toks)]
    tokens = spark.createDataFrame(rows, "id long, token string")
    two_stage = {
        (r["subject_id"], r["rank"]): (r["candidate_id"], r["shared"])
        for r in top_k_per_subject(jaccard_scored_pairs(tokens), k=3).collect()
    }
    fused = {
        (r["subject_id"], r["rank"]): (r["candidate_id"], r["shared"])
        for r in top_k_blocked_matches(tokens, k=3).collect()
    }
    assert fused == two_stage


def test_fused_topk_respects_df_cap(spark):
    """A stop-token shared by everyone must not generate pairs when the
    document-frequency cap excludes it — the skew bound of the fused
    path."""
    from opensanctions_spark.operators.blocking import top_k_blocked_matches

    rows = [(i, "stopword") for i in range(50)] + [
        (i, f"rare{i % 2}") for i in range(4)
    ]
    tokens = spark.createDataFrame(rows, "id long, token string")
    capped = top_k_blocked_matches(tokens, k=5, max_token_freq=10)
    got = capped.select("subject_id", "candidate_id").collect()
    # only the rare tokens (df=2 each) form pairs; the 50-member
    # stopword bucket is dropped entirely
    ids = {r["subject_id"] for r in got}
    assert ids <= {0, 1, 2, 3}
    assert len(got) == 4  # two rare buckets x one mirrored pair each


def test_min_score_ratio_prunes_weak_candidates(spark):
    """The reference's second candidate budget: candidates scoring below
    ratio x the subject's best are pruned; the best itself always
    survives (ratio <= 1)."""
    from opensanctions_spark.operators.blocking import top_k_per_subject

    scored = spark.createDataFrame(
        [
            ("s1", "c1", 1.0), ("s1", "c2", 0.5), ("s1", "c3", 0.05),
            ("s2", "c4", 0.2), ("s2", "c5", 0.01),
        ],
        "subject_id STRING, candidate_id STRING, score DOUBLE",
    )
    got = {
        (r["subject_id"], r["candidate_id"])
        for r in top_k_per_subject(scored, k=10, min_score_ratio=0.1).collect()
    }
    # c3 = 5% of s1's best (pruned); c5 = 5% of s2's best (pruned);
    # s2's best (0.2 absolute) survives because the budget is RELATIVE
    assert got == {("s1", "c1"), ("s1", "c2"), ("s2", "c4")}
