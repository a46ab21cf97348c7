"""Blocking / candidate similarity join + top-k (SURVEY J5, T1, T3).

The reference's xref builds a blocking index that proposes candidate pairs,
scores each pair, and keeps top-k above a cutoff
(``zavod/zavod/integration/dedupe.py:42-90``,
``zavod/zavod/runner/local_enricher.py:33-121``). The Spark-native shape:

1. tokenize the blocking key (names) → explode → (token, id),
2. group by token into buckets (ONE shuffle of the token set); hot
   tokens are the skew hazard, so a per-token document-frequency cap
   drops stopword-ish tokens before bucketing (the analogue of the
   reference's candidate budgets),
3. expand pairs inside each bucket and score them (here: token-overlap
   Jaccard — pluggable),
4. top-k per subject via row_number window, ties broken by candidate id.

Step 3's expansion is ``bucket_pairs``, the ONE in-bucket pair expansion
of the package: token blocking here, MinHash/LSH band buckets and the
shingle/prefix blocks in ``catalog``, and edge buckets in
``operators.edges`` all run through it. It streams a bucket's pairs
chunk by chunk over a fixed-width re-spread, with three partner forms:
the later members (ordered i < j pairs), every other member
(directional pairs) or a second member array (bipartite pairs).

At 100 TB the pair-generation stage dominates; the DF cap bounds each
token bucket to B ids → ≤ B² pairs per token, making worst-case cost
explicit and tunable (exactly why the reference has
max_candidates/patience knobs). The bucket form shuffles the token set
once where an equi-self-join would shuffle it twice.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _hot_tokens(tokens: DataFrame, max_token_freq: int) -> DataFrame:
    """Tokens whose document frequency exceeds the skew cap — the
    stopword-ish blocking keys the reference's candidate budgets exist to
    suppress (``zavod/zavod/integration/dedupe.py:47-56``).

    This is the side that gets broadcast: it is SMALL BY CONSTRUCTION
    (only tokens shared by > max_token_freq entities — a few thousand
    stopwords at any corpus size), whereas the kept vocabulary grows
    without bound with the corpus. Broadcasting the kept side would blow
    the broadcast limit at 100 TB; anti-joining against the hot side is
    a map-side filter whose build never grows past the cap's own math
    (≤ total_token_occurrences / max_token_freq distinct tokens)."""
    return (
        tokens.groupBy("token")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") > max_token_freq)
        .select("token")
    )


def _drop_hot_tokens(
    annotated: DataFrame, tokens: DataFrame, max_token_freq: int
) -> DataFrame:
    """Remove skew-capped tokens via a broadcast LEFT ANTI join against the
    hot-token set (see ``_hot_tokens`` for why this side, never the kept
    vocabulary, is the broadcast build)."""
    return annotated.join(
        F.broadcast(_hot_tokens(tokens, max_token_freq)), "token", "left_anti"
    )


_PAIR_CHUNK = 256


def bucket_pairs(
    buckets: DataFrame,
    members_col: str,
    pair: Callable[[Column, Column], Column],
    partners: str = "later",
) -> DataFrame:
    """Pair rows from a bucket frame — THE in-bucket pair expansion every
    blocked-pair family runs through.

    ``buckets`` has one row per bucket with its members in the sorted
    array ``members_col``; ``pair(x, y)`` builds the output struct from a
    subject element ``x`` and a partner element ``y``, and its fields are
    the output columns. ``partners`` picks the partner set of the member
    at position i:

    - ``"later"``: the members after i — ordered i < j pairs, n(n-1)/2
      per bucket (the default);
    - ``"others"``: every member but i — directional pairs, n(n-1);
    - any other value names a second array column of ``buckets`` —
      bipartite pairs, |members|·|partners| per bucket.

    Callers drop buckets that cannot pair (fewer than two members, or an
    empty side) before calling.

    The expansion streams: the bucket row explodes into chunk rows
    (subject positions in strides of ``_PAIR_CHUNK``), the chunk rows are
    re-spread round-robin over a FIXED partition count, and each chunk
    row explodes into one row per subject whose partner array explodes
    into the pair rows. Every allocation on the way is O(|bucket|) — a
    single ``explode(flatten(transform(members, ...)))`` builds a
    bucket's whole pair set as ONE O(|bucket|²) array value (a
    5,000-member bucket: ~300 MB before the explode streams it, a
    GCLocker retry storm on j5_reference_scorer at sf0.1) — and one
    mega-bucket spreads over ceil(B/chunk) tasks instead of serializing
    on a single straggler. Buckets at or below the chunk size ship
    exactly one chunk row.

    The re-spread is ``repartition(n)`` with n = the session's shuffle
    partition count: a REPARTITION_BY_NUM exchange, which AQE never
    coalesces. AQE sizes stages on their input bytes, and the input of
    the quadratic expansion is tiny — on a duplicate-dense corpus (sf1:
    every document a 10-way duplicate group) it packed the MinHash
    expansion of a coalescible exchange onto 2 tasks."""
    size = F.size(members_col)
    last = size - 2 if partners == "later" else size - 1
    keep = [members_col]
    if partners not in ("later", "others"):
        keep.append(partners)
    starts = buckets.select(
        *keep,
        F.explode(F.sequence(F.lit(0), last, F.lit(_PAIR_CHUNK))).alias("_start"),
    ).repartition(
        int(buckets.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    )
    subjects = starts.select(
        *keep,
        F.explode(
            F.sequence(
                F.col("_start"),
                F.least(F.col("_start") + F.lit(_PAIR_CHUNK - 1), last),
            )
        ).alias("_i"),
    )
    members = F.col(members_col)
    x = F.element_at(members, F.col("_i") + 1)
    if partners == "later":
        ys = F.slice(members, F.col("_i") + 2, size)
    elif partners == "others":
        ys = F.filter(members, lambda y, j: j != F.col("_i"))
    else:
        ys = F.col(partners)
    return subjects.select(
        F.explode(F.transform(ys, lambda y: pair(x, y))).alias("p")
    ).select("p.*")


def tokenize(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, token, n_tokens) rows: lowercase, split on non-alnum, distinct
    within each id. Dedup and the per-id token count are computed ROW-WISE
    with array functions before the explode — zero shuffles, where a
    cross-row distinct + count-window would cost two full shuffles of the
    token set. Requires one row per id (the blocking-key contract).

    explode_outer + null filter, NOT plain explode: explode of a computed
    array column triggers InferFiltersFromGenerate, and predicate
    pushdown substitutes the full token expression into the inferred
    size() filter — re-evaluating it per row (measured 25× slower on
    the shingle analogue). The outer form infers nothing; the null
    filter restores inner semantics."""
    toks = F.array_distinct(
        F.filter(
            F.split(F.lower(F.col(text_col)), "[^a-z0-9]+"),
            lambda x: F.length(x) > 0,
        )
    )
    return (
        df.select(F.col(id_col).alias("id"), toks.alias("_toks"))
        .select(
            "id",
            F.explode_outer("_toks").alias("token"),
            F.size("_toks").alias("n_tokens"),
        )
        .filter(F.col("token").isNotNull())
    )


def _counted(tokens: DataFrame) -> DataFrame:
    """(id, token) rows with the per-id token count ``n_tokens`` — the
    Jaccard denominator, taken from the unfiltered token set."""
    if "n_tokens" in tokens.columns:  # precomputed row-wise (see tokenize)
        return tokens
    return tokens.withColumn(
        "n_tokens", F.count("*").over(Window.partitionBy("id"))
    )


def _token_buckets(tokens: DataFrame, max_token_freq: int | None) -> DataFrame:
    """One row per shared token: its sorted (id, n_tokens) members, hot
    tokens dropped by the DF cap."""
    t = _counted(tokens)
    if max_token_freq is not None:
        t = _drop_hot_tokens(t, tokens, max_token_freq)
    return (
        t.groupBy("token")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("id"), F.col("n_tokens")))
            ).alias("members")
        )
        .filter(F.size("members") > 1)
    )


def _id_pair(a: str, b: str) -> Callable[[Column, Column], Column]:
    """Pair builder for ``bucket_pairs`` over (id, n_tokens) members:
    ``{a}_id``, ``{b}_id``, ``{a}_n``, ``{b}_n``."""
    return lambda x, y: F.struct(
        x["id"].alias(f"{a}_id"),
        y["id"].alias(f"{b}_id"),
        x["n_tokens"].alias(f"{a}_n"),
        y["n_tokens"].alias(f"{b}_n"),
    )


def _jaccard(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """Shared-token count and Jaccard score per (``{a}_id``, ``{b}_id``)
    from one row per shared token."""
    return (
        pairs.groupBy(f"{a}_id", f"{b}_id")
        .agg(
            F.count("*").alias("shared"),
            F.first(f"{a}_n").alias(f"{a}_n"),
            F.first(f"{b}_n").alias(f"{b}_n"),
        )
        .withColumn(
            "score",
            F.col("shared")
            / (F.col(f"{a}_n") + F.col(f"{b}_n") - F.col("shared")),
        )
    )


def jaccard_scored_pairs(tokens: DataFrame, max_token_freq: int | None = None) -> DataFrame:
    """Candidate pairs with token-set Jaccard score.

    The per-id token counts (the Jaccard denominators) are attached to the
    token rows BEFORE bucketing and ride through pair expansion, so the
    pair table — the largest relation in the whole xref — is never
    re-shuffled against a sizes table. At scale sizes is one row per
    entity (not broadcastable), so carrying two ints through the bucket
    stage replaces two full shuffles of the pair table. Counts come from
    the unfiltered token sets: the DF cap prunes candidate *generation*
    only, never the denominator.

    Pair generation is the single-shuffle bucket form: one groupBy(token)
    shuffle of the annotated token set, then UNORDERED (id_a < id_b) pairs
    expand INSIDE each bucket with JVM array functions — exactly
    n(n-1)/2 structs per bucket via the sorted-members slice trick — and
    the directional view is mirrored AFTER the pair aggregation, when the
    relation has already collapsed to one row per pair. Half the quadratic
    expansion and half the pair-shuffle volume of a directional expansion;
    the equi-self-join alternative would shuffle the token set twice."""
    pairs = bucket_pairs(
        _token_buckets(tokens, max_token_freq), "members", _id_pair("left", "right")
    )
    half = _jaccard(pairs, "left", "right")
    # mirror to the directional view AFTER aggregation, inside one plan
    # (explode of a 2-struct array, map-side) — a union of two selects
    # over `half` would compile to two subplans and recompute the whole
    # expansion stage twice
    both = F.explode(
        F.array(
            F.struct(
                F.col("left_id").alias("subject_id"),
                F.col("right_id").alias("candidate_id"),
                F.col("shared").alias("shared"),
                F.col("left_n").alias("subject_n"),
                F.col("right_n").alias("candidate_n"),
                F.col("score").alias("score"),
            ),
            F.struct(
                F.col("right_id").alias("subject_id"),
                F.col("left_id").alias("candidate_id"),
                F.col("shared").alias("shared"),
                F.col("right_n").alias("subject_n"),
                F.col("left_n").alias("candidate_n"),
                F.col("score").alias("score"),
            ),
        )
    )
    return half.select(both.alias("p")).select("p.*")


def top_k_per_subject(
    scored: DataFrame,
    k: int,
    subject_col: str = "subject_id",
    order_cols: list | None = None,
    min_score_ratio: float | None = None,
) -> DataFrame:
    """Deterministic top-k matches per subject (T1: limit 10, score desc;
    tie-break by candidate id so results are reproducible).

    ``min_score_ratio`` is the reference's second candidate budget
    (``zavod/zavod/runner/local_enricher.py:36-44``, default 0.1 there):
    a candidate must score at least that fraction of its subject's BEST
    candidate — pruning the long tail of weak matches before the matcher
    spends CPU on them. The per-subject max rides the same window
    partitioning as the rank, so the ratio costs no extra exchange."""
    order = order_cols or [F.col("score").desc(), F.col("candidate_id").asc()]
    w = Window.partitionBy(subject_col).orderBy(*order)
    out = scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
    if min_score_ratio is not None:
        best = F.max("score").over(Window.partitionBy(subject_col))
        out = (
            out.withColumn("_best", best)
            .filter(F.col("score") >= F.lit(min_score_ratio) * F.col("_best"))
            .drop("_best")
        )
    return out


def bipartite_jaccard_pairs(
    subject_tokens: DataFrame,
    target_tokens: DataFrame,
    max_token_freq: int | None = None,
) -> DataFrame:
    """Cross-frame candidate pairs: subjects match TARGETS only, never each
    other — the enrichment matcher's shape (SURVEY §3.2: subject scope vs
    the full_dataset target store, ``zavod/zavod/runner/local_enricher.py:
    62-102``), where the self-join form would waste the whole
    subject×subject and target×target quadrants.

    Same single-shuffle bucket construction as ``jaccard_scored_pairs``:
    both (id, token) frames are annotated with their per-id token counts,
    tagged with a side marker, unioned, and bucketed by token in ONE
    groupBy; pairs expand inside each bucket strictly across sides. The DF
    cap is measured on the TARGET side (the big one at 100 TB — the
    reference's max_candidates budget is per-subject for the same reason).

    Returns (subject_id, candidate_id, shared, score) with Jaccard over
    the union of both token sets.
    """
    s = _counted(subject_tokens).withColumn("side", F.lit("s"))
    t = _counted(target_tokens).withColumn("side", F.lit("t"))
    if max_token_freq is not None:
        # Hot set measured on the TARGET side (the big one at 100 TB);
        # subject tokens absent from the target frame survive the anti-join
        # but can never pair (the bucket filter needs both sides), so the
        # pair output is identical to the old inner-join-on-kept form.
        hot = F.broadcast(_hot_tokens(target_tokens, max_token_freq))
        s = s.join(hot, "token", "left_anti")
        t = t.join(hot, "token", "left_anti")

    def side(tag: str) -> Column:
        return F.sort_array(
            F.collect_list(
                F.when(
                    F.col("side") == tag,
                    F.struct(F.col("id"), F.col("n_tokens")),
                )
            )
        )

    buckets = (
        s.unionByName(t)
        .groupBy("token")
        .agg(side("s").alias("subjects"), side("t").alias("targets"))
        .filter((F.size("subjects") > 0) & (F.size("targets") > 0))
    )
    pairs = bucket_pairs(
        buckets, "subjects", _id_pair("subject", "candidate"), partners="targets"
    )
    return _jaccard(pairs, "subject", "candidate").drop(
        "subject_n", "candidate_n"
    )


def top_k_blocked_matches(
    tokens: DataFrame,
    k: int,
    max_token_freq: int | None = None,
) -> DataFrame:
    """Fused J5+T1: blocking candidates, Jaccard scores and the per-subject
    top-k in a plan with ONE pair-table exchange.

    ``jaccard_scored_pairs`` + ``top_k_per_subject`` aggregates unordered
    pairs (one exchange), mirrors to the directional view, then the
    window re-shuffles by subject (a second exchange of the full pair
    table). Here the in-bucket expansion emits BOTH directions up front
    and the single exchange is keyed on the SUBJECT alone — hash
    partitioning on a subset of the grouping keys satisfies the
    (subject, candidate) aggregation AND the subject-partitioned rank
    window, so the pair table crosses the wire exactly once (the A1
    subset-clustering trick applied to linkage). At 100 TB that halves
    the dominant shuffle; at bench scale it removes one full stage.
    Output: (subject_id, candidate_id, shared, subject_n, candidate_n,
    score, rank ≤ k)."""
    # directional pairs: both directions are emitted before the shuffle,
    # so the single subject-keyed exchange serves the agg AND the window
    pairs = bucket_pairs(
        _token_buckets(tokens, max_token_freq),
        "members",
        _id_pair("subject", "candidate"),
        partners="others",
    )
    # THE one exchange: subject-keyed, reused by the agg and the window
    agg = _jaccard(pairs.repartition(F.col("subject_id")), "subject", "candidate")
    w = Window.partitionBy("subject_id").orderBy(
        F.col("score").desc(), F.col("candidate_id").asc()
    )
    return agg.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )
