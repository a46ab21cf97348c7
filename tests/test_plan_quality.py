"""Plan-quality gates: the physical plans the engine's scale story depends
on, asserted from the executed (post-AQE) plans at test scale so a
regression that silently de-optimizes a headline query fails CI.

Checks: predicate pushdown reaches the parquet scan, small dimensions
broadcast (no shuffle of the big side), single-shuffle aggregations stay
single-shuffle, pure row-local pipelines have no exchange at all, and the
hot aggregations run inside whole-stage codegen.
"""

from __future__ import annotations

from opensanctions_spark.catalog import QUERIES


def _executed_plan(df) -> str:
    df.collect()  # materialize so AQE finalizes the physical plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    # AQE's toString appends the pre-execution plan under "== Initial
    # Plan =="; keep only the final physical plan for assertions.
    return plan.split("== Initial Plan ==")[0]


def test_q1_pushdown_and_codegen(spark, sf_dir):
    plan = _executed_plan(QUERIES["q1_pricing_summary"](spark, sf_dir))
    # the shipdate predicate must reach the parquet scan…
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1][:200]
    # …and the aggregate must run inside whole-stage codegen (the final
    # AQE plan prints codegen stages as "*(n)" operator prefixes)
    assert "WholeStageCodegen" in plan or "*(1)" in plan


def test_q3_broadcasts_customer_dimension(spark, sf_dir):
    plan = _executed_plan(QUERIES["q3_shipping_priority"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_canonical_rekey_is_broadcast(spark, sf_dir):
    plan = _executed_plan(QUERIES["j2_canonical_rekey"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_exact_dedup_is_single_shuffle(spark, sf_dir):
    plan = _executed_plan(QUERIES["dedup_exact"](spark, sf_dir))
    # partial + final hash aggregate around exactly one hash exchange
    # (the RoundRobin repartition is the test-harness shim in catalog.load
    # that re-parallelizes the single-row-group documents file)
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, f"expected 1 shuffle, saw {n_exchanges}"


def test_stratified_sample_needs_no_shuffle(spark, sf_dir):
    plan = _executed_plan(QUERIES["sample_stratified"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan, (
        "hash-bucket sampling must stay map-only"
    )


def test_bucketed_statements_aggregate_without_shuffle(spark, sf_dir, tmp_path):
    """SCALE.md §1: statements bucketed by canonical_id make entity
    assembly shuffle-free — prove it on a real bucketed table."""
    from pyspark.sql import functions as F

    from opensanctions_spark.catalog import load

    cust = load(spark, sf_dir, "customer").select(
        F.concat(F.lit("c-"), F.col("c_custkey")).alias("canonical_id"),
        F.col("c_name").alias("value"),
    )
    (
        cust.write.bucketBy(8, "canonical_id")
        .sortBy("canonical_id")
        .option("path", str(tmp_path / "stmts_bucketed"))
        .mode("overwrite")
        .saveAsTable("stmts_bucketed")
    )
    try:
        agg = (
            spark.table("stmts_bucketed")
            .groupBy("canonical_id")
            .agg(F.count("*").alias("n"))
        )
        agg.collect()
        plan = agg._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
        assert "Exchange hashpartitioning" not in plan, (
            "bucketed grouping key must satisfy the distribution without a shuffle"
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS stmts_bucketed")


def test_q6_is_scan_plus_agg_only(spark, sf_dir):
    plan = _executed_plan(QUERIES["q6_forecast_revenue"](spark, sf_dir))
    pushed = plan.split("PushedFilters")[1][:300] if "PushedFilters" in plan else ""
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    # single-row final agg: the only exchange is the SinglePartition gather
    assert "Exchange hashpartitioning" not in plan
    # projection pruned to the two computed columns + predicate columns
    read = plan.split("ReadSchema")[1][:200]
    assert "l_extendedprice" in read and "l_orderkey" not in read


def test_q16_broadcasts_both_dimension_sides(spark, sf_dir):
    plan = _executed_plan(QUERIES["q16_supplier_variety"](spark, sf_dir))
    # part join broadcasts; the anti-join either broadcasts or (empty
    # excluded set at tiny SF) is eliminated by AQE — either way lineitem
    # must never reach a shuffle join
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # lineitem must not shuffle for the joins: the only hash exchanges
    # belong to the distinct aggregate on (p_brand, p_size, l_suppkey)
    for frag in plan.split("Exchange hashpartitioning")[1:]:
        assert "p_brand" in frag[:120] or "l_suppkey" in frag[:120]


def test_q13_reuses_join_partitioning_for_count(spark, sf_dir):
    plan = _executed_plan(QUERIES["q13_customer_distribution"](spark, sf_dir))
    # shuffles: customer side + orders side of the outer join (both on
    # custkey), then the #distinct-count-values distribution agg — the
    # per-customer count itself must NOT add a fourth exchange
    n = plan.count("Exchange hashpartitioning")
    assert n <= 3, f"per-customer count should reuse join partitioning, saw {n}"


def test_grouped_facets_are_one_expand_one_shuffle(spark):
    from opensanctions_spark.exporters import statistics_facets_grouped

    entities = spark.createDataFrame(
        [("e%d" % i, "Person", {"country": ["de"], "topics": []}) for i in range(100)],
        "canonical_id string, schema string, properties map<string,array<string>>",
    )
    plan = _executed_plan(statistics_facets_grouped(entities))
    # the whole facet family rides ONE grouping-sets aggregation: a single
    # Expand feeding a single hash-partitioned exchange (the union-of-
    # groupBys form pays one shuffle per facet)
    assert "Expand" in plan
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"grouping-sets facets should shuffle once, saw {n}"


def test_entity_facet_counts_shuffle_once(spark):
    from opensanctions_spark.exporters.metadata import _facet_counts

    entities = spark.createDataFrame(
        [
            ("e%d" % i, "Person" if i % 2 else "Sanction",
             {"country": ["de"], "name": ["N"], "programId": ["P"]})
            for i in range(100)
        ],
        "canonical_id string, schema string, properties map<string,array<string>>",
    )
    plan = _executed_plan(_facet_counts(entities))
    # statistics.json and the run check share ONE facet aggregation:
    # every facet row is exploded in place and partially aggregated
    # before a single hash exchange
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"the entity facet aggregation should shuffle once, saw {n}"


def test_train_split_is_map_only(spark, sf_dir):
    plan = _executed_plan(QUERIES["sample_train_split"](spark, sf_dir))
    # pure projection: split assignment must add no exchange of any kind
    assert "Exchange hashpartitioning" not in plan


def test_mixture_cap_is_single_shuffle(spark, sf_dir):
    plan = _executed_plan(QUERIES["mixture_cap_per_source"](spark, sf_dir))
    # one shuffle on source for the per-source ranking; the top-k filter
    # must not trigger a global sort exchange
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"per-source cap should shuffle once, saw {n}"
    assert "Exchange rangepartitioning" not in plan


def test_q5_prunes_via_broadcast_before_fact_join(spark, sf_dir):
    """Q5: region/nation/supplier/customer all broadcast — the only
    sort-merge-scale shuffle allowed is lineitem⋈orders."""
    plan = _executed_plan(QUERIES["q5_local_supplier_volume"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3


def test_q10_returnflag_pushdown(spark, sf_dir):
    plan = _executed_plan(QUERIES["q10_returned_items"](spark, sf_dir))
    assert "PushedFilters" in plan and "l_returnflag" in plan
    assert "TakeOrderedAndProject" in plan, "top-20 must not be a full sort"


def test_q14_single_scan_single_agg(spark, sf_dir):
    """Q14: numerator+denominator in ONE aggregate over ONE broadcast
    join — no second pass over lineitem."""
    plan = _executed_plan(QUERIES["q14_promo_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert plan.count("Scan parquet") <= 2  # lineitem + part, once each


def test_blocking_pair_expansion_runs_wide(spark, sf_dir):
    """The bucket frame must be re-spread before in-bucket pair expansion
    (AQE would coalesce the tiny pre-explode stage to a few tasks)."""
    plan = _executed_plan(QUERIES["j5_t1_blocking_topk"](spark, sf_dir))
    assert "Exchange RoundRobinPartitioning" in plan


def test_q2_groupwise_min_is_one_shuffle(spark, sf_dir):
    """Q2's correlated-MIN decorrelation: the window min over p_partkey
    must reuse the distinct's hash partitioning — one shuffle total on
    the pair side, all dimensions broadcast."""
    plan = _executed_plan(QUERIES["q2_min_cost_supplier"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # distinct shuffles on (l_partkey, l_suppkey); the window re-shuffles
    # on p_partkey alone — those keys differ, so two exchanges is the
    # floor for this plan. The regression guard is that no third appears.
    n = plan.count("Exchange hashpartitioning")
    assert n <= 2, f"expected <=2 shuffles, saw {n}"


def test_q7_broadcasts_every_dimension(spark, sf_dir):
    """Q7 joins the nation dimension twice under different roles plus
    supplier and customer — all four must broadcast; the only
    partitioned join is lineitem x orders."""
    plan = _executed_plan(QUERIES["q7_volume_shipping"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "l_shipdate" in plan.split("PushedFilters")[1][:300]


def test_q8_single_fact_shuffle(spark, sf_dir):
    """Q8's seven-table join: dimension broadcasts around ONE shuffled
    fact-fact join (the round-5 shape collapses the customer-side
    nation⋈region chain to a literal ``isin`` pushed to the customer
    scan, so those two joins vanish from the plan entirely), and the
    ratio is one aggregate pass (no second scan for the denominator)."""
    plan = _executed_plan(QUERIES["q8_market_share"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 4
    # the EU prune reaches the customer scan as an In filter
    assert "In(c_nationkey" in plan
    # each table scanned once; nation/region twice (role + key collection)
    assert plan.count("Scan parquet") <= 8


def test_q15_reuses_revenue_view(spark, sf_dir):
    """Q15's groupwise-max: the aggregated revenue view feeds both the
    MAX probe and the equality filter; the max side must come back as a
    broadcast (1-row), not a second sort-merge join."""
    plan = _executed_plan(QUERIES["q15_top_supplier"](spark, sf_dir))
    assert "SortMergeJoin" not in plan


def test_q17_stats_broadcast_back(spark, sf_dir):
    """Q17's decorrelated per-part AVG joins back to the brand-filtered
    scan as a broadcast — shuffling the lineitem side to meet a
    dimension-sized stats frame would be the scale bug."""
    plan = _executed_plan(QUERIES["q17_small_quantity_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q19_pushes_per_side_residuals(spark, sf_dir):
    """Q19's OR-of-ANDs spans both join sides, so neither scan can take
    the whole predicate — but the hand-derived per-side residuals must
    reach the scans: quantity bounds on lineitem, brand/size on part."""
    plan = _executed_plan(QUERIES["q19_disjunctive_revenue"](spark, sf_dir))
    pushed = plan.split("PushedFilters")
    assert len(pushed) >= 2
    assert any("l_quantity" in seg[:300] for seg in pushed[1:])
    assert any("p_brand" in seg[:300] or "p_size" in seg[:300] for seg in pushed[1:])


def test_q22_anti_join_after_scalar_filter(spark, sf_dir):
    """Q22: the NOT EXISTS compiles to a left-anti join; the global-
    average scalar threshold is a broadcast nested loop (1-row build),
    never a shuffle of the customer scan."""
    plan = _executed_plan(QUERIES["q22_idle_customers"](spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_enrich_judgement_lookup_is_broadcast(spark, sf_dir):
    """plans/enrich.py: the judgement table joins the pruned match table
    as a broadcast (decisions are human/threshold-curated — SCALE.md §3),
    and the publishable topic gate stays a semi-join, so the only hash
    exchanges belong to the blocking bucket stage and the BFS.

    Gated on the pre-BFS frames: ``expand_subgraph`` localCheckpoints
    its levels (round 13 — the un-materialized form embedded the whole
    judged pipeline 8× in the physical plan), so the composed query's
    top-level plan shows only ExistingRDD scans; the join strategies
    live in the judged/seeds sub-plans."""
    from pyspark.sql import functions as F

    from opensanctions_spark.catalog import load
    from opensanctions_spark.plans.enrich import EnrichConfig, enrich_judged

    part = load(spark, sf_dir, "part")
    matchable = part.select(
        F.concat(F.lit("p"), F.col("p_partkey").cast("string")).alias("id"),
        F.lower(F.col("p_name")).alias("name"),
        F.col("p_partkey").alias("key"),
        F.col("p_size"),
    )
    subjects = matchable.filter(F.col("key") % 2 == 1).select("id", "name")
    targets = matchable.filter(F.col("key") % 2 == 0)
    judgements = part.select(
        F.concat(F.lit("p"), F.col("p_partkey").cast("string")).alias("left_id"),
        F.concat(F.lit("p"), (F.col("p_partkey") + 1).cast("string")).alias(
            "right_id"
        ),
        F.lit("POSITIVE").alias("judgement"),
    )
    cfg = EnrichConfig(cutoff=0.5, top_k=5, max_token_freq=None)
    judged = enrich_judged(
        subjects, targets.select("id", "name"), judgements, cfg
    )
    plan = _executed_plan(judged)
    assert "BroadcastHashJoin" in plan
    # the left_semi gate must not degrade into an inner join + distinct
    seeds = (
        judged.filter(F.col("judgement") == "POSITIVE")
        .join(
            targets.filter(F.col("p_size") >= 10).select(
                F.col("id").alias("candidate_id")
            ),
            "candidate_id",
            "left_semi",
        )
        .select(F.col("candidate_id").alias("node"))
        .distinct()
    )
    assert "LeftSemi" in _executed_plan(seeds)


def test_xref_attribute_attach_follows_pruning(spark, sf_dir):
    """plans/xref.py: the strong-id/id-number attach joins run on the
    pair table AFTER top-k + global-cap pruning — the executed plan's
    window (top-k) and limit must sit below the attribute joins, so the
    unpruned pair table is never re-shuffled against the subjects."""
    from opensanctions_spark.catalog import load
    from opensanctions_spark.plans.xref import XrefConfig, xref_pairs
    from pyspark.sql import functions as F

    part = load(spark, sf_dir, "part")
    subjects = part.select(
        F.col("p_partkey").cast("long").alias("id"),
        F.col("p_name").alias("name"),
        F.array(F.col("p_brand")).alias("strong_ids"),
        F.array(F.col("p_type")).alias("id_numbers"),
    )
    decisions = xref_pairs(subjects, XrefConfig(top_k=5, limit=100))
    plan = _executed_plan(decisions)
    # global cap executes as a TakeOrderedAndProject/GlobalLimit, and the
    # attach joins appear above it in the plan text (smaller index = higher)
    assert "Limit" in plan or "TakeOrdered" in plan
    join_at = plan.find("SortMergeJoin")
    if join_at == -1:
        join_at = plan.find("BroadcastHashJoin")
    limit_at = max(plan.find("GlobalLimit"), plan.find("TakeOrdered"))
    assert join_at != -1 and limit_at != -1
    assert join_at < limit_at, "attribute joins must consume the capped pairs"


def test_no_inferred_generate_filter_duplicates_token_pipeline(spark, sf_dir):
    """Exploding a COMPUTED array column by attribute lets
    InferFiltersFromGenerate add a size(arr) > 0 filter whose pushdown
    substitutes the full array expression — re-running the regex/shingle
    pipeline per row (measured 25× at sf0.1). The explode_outer + null
    filter rendering must keep the expensive expression out of every
    Filter node in the optimized plans of the token/shingle consumers."""
    from opensanctions_spark.catalog import load
    from opensanctions_spark.catalog.text import shingles_of
    from opensanctions_spark.operators.blocking import tokenize
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    frames = {
        "shingles_of": shingles_of(docs),
        "tokenize": tokenize(
            load(spark, sf_dir, "part").select(
                F.col("p_partkey").alias("id"), "p_name"
            ),
            "id",
            "p_name",
        ),
        "j5_tokens": QUERIES["j5_t1_blocking_topk"](spark, sf_dir),
    }
    for label, df in frames.items():
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        for line in optimized.splitlines():
            if line.strip().startswith("Filter ") or "+- Filter" in line:
                assert "regexp_extract_all" not in line, (
                    f"{label}: inferred generate filter re-runs the regex "
                    f"pipeline: {line.strip()[:200]}"
                )
                assert "array_distinct" not in line, (
                    f"{label}: inferred generate filter re-runs the array "
                    f"pipeline: {line.strip()[:200]}"
                )


def test_entity_assembly_is_one_shuffle(spark, sf_dir):
    """A1 runs on ONE explicit canonical_id exchange: hash partitioning on
    a subset of the grouping keys satisfies both the (canonical_id, prop)
    aggregation and the (canonical_id) pivot, so neither adds its own."""
    plan = _executed_plan(QUERIES["a1_entity_assembly"](spark, sf_dir))
    n = plan.count("Exchange hashpartitioning")
    assert n <= 1, f"expected at most 1 hash exchange in assembly, saw {n}"


def test_tfidf_vocabulary_join_is_not_hard_broadcast(spark, sf_dir):
    """The df (vocabulary) table must NOT carry a forced broadcast hint —
    web-scale vocabularies can exceed any broadcast limit, so the join
    strategy is AQE's call. Only the 1-row n_docs frame may hint."""
    df = QUERIES["text_tfidf_topk"](spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    n_hints = analyzed.count("ResolvedHint")
    assert n_hints == 1, (
        f"expected exactly one broadcast hint (n_docs), saw {n_hints}"
    )


def test_ann_fast_plan_ships_each_embedding_once(spark, sf_dir):
    """The production ANN path must be a single pass over the embeddings
    (one scan feeding mapInPandas), not a pair-expanded join that ships
    arrays once per query."""
    df = QUERIES["ann_cosine_fast"](spark, sf_dir)
    plan = _executed_plan(df)
    assert "MapInPandas" in plan
    # one parquet scan of embeddings in the whole plan
    assert plan.count("Scan parquet") <= 1, plan.count("Scan parquet")


def test_dedup_fast_plan_is_one_bucket_shuffle(spark, sf_dir):
    """The per-bucket gram scorer shuffles once on the label bucket and
    runs a grouped-map Pandas stage; no pair-level Python transfer."""
    df = QUERIES["dedup_embedding_fast"](spark, sf_dir)
    plan = _executed_plan(df)
    assert "FlatMapGroupsInPandas" in plan
    n = plan.count("Exchange hashpartitioning")
    assert n <= 1, f"expected at most 1 exchange, saw {n}"


def test_pair_expansion_reads_fixed_width_respread(spark, sf_dir):
    """Every blocked-pair family explodes its pair rows in a stage that
    reads the fixed-width round-robin re-spread of ``bucket_pairs``:
    ``Exchange RoundRobinPartitioning(<shuffle partitions>)``, origin
    REPARTITION_BY_NUM, which AQE never coalesces — AQE sizes a stage on
    its input bytes, and the input of the quadratic expansion is tiny
    (sf1: the MinHash expansion was packed onto 2 tasks). No
    AQEShuffleRead may sit between the exchange and the expansion."""
    width = spark.conf.get("spark.sql.shuffle.partitions")
    respread = f"Exchange RoundRobinPartitioning({width}), REPARTITION_BY_NUM"
    for name in (
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "dedup_fuzzy_levenshtein",
        "j7_edge_dedupe_merge",
        "j5_t1_blocking_topk",
    ):
        lines = _executed_plan(QUERIES[name](spark, sf_dir)).splitlines()
        # the per-subject explode (output _i) sits right under the pair
        # explode, in the same stage
        subjects = [
            i
            for i, line in enumerate(lines)
            if "Generate explode(sequence(_start" in line
        ]
        assert subjects, f"{name}: no bucket_pairs expansion in the plan"
        for i in subjects:
            assert "Generate explode(transform(" in lines[i - 1], (name, lines[i - 1])
            assert "ShuffleQueryStage" in lines[i + 1], (name, lines[i + 1])
            assert respread in lines[i + 2], (name, lines[i + 2])


def test_j5_fused_topk_single_pair_exchange(spark, sf_dir):
    """The fused J5+T1 must ship the pair table through ONE subject-keyed
    exchange reused by the aggregation and the rank window — 2 hash
    exchanges total (token buckets + subject), never a third for the
    window."""
    plan = _executed_plan(QUERIES["j5_t1_blocking_topk"](spark, sf_dir))
    n = plan.count("Exchange hashpartitioning")
    assert n <= 2, f"expected <=2 hash exchanges in fused j5, saw {n}"


def test_blocking_skew_cap_broadcasts_hot_side_only(spark, sf_dir):
    """The DF skew cap must never broadcast the KEPT vocabulary (unbounded
    at 100 TB) — only the hot-token set (bounded by the cap's own math) may
    build a broadcast, and only as a LEFT ANTI join. Every BroadcastHashJoin
    in a capped blocking plan must therefore be LeftAnti."""
    from opensanctions_spark.operators.blocking import (
        bipartite_jaccard_pairs,
        jaccard_scored_pairs,
        tokenize,
        top_k_blocked_matches,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    tokens = tokenize(cust.limit(200), "c_custkey", "c_name")
    plans = [
        _executed_plan(jaccard_scored_pairs(tokens, max_token_freq=50)),
        _executed_plan(top_k_blocked_matches(tokens, k=3, max_token_freq=50)),
        _executed_plan(
            bipartite_jaccard_pairs(tokens, tokens, max_token_freq=50)
        ),
    ]
    for plan in plans:
        for line in plan.splitlines():
            if "BroadcastHashJoin" in line:
                assert "LeftAnti" in line, (
                    "broadcast of the kept token vocabulary:\n" + line
                )


def test_j7_interval_overlap_is_windowed_equijoin(spark, sf_dir):
    """The J7 range exhibit runs as a (key, window) EQUI-self-join over
    the time-windowed table — never a per-key theta join (quadratic in
    the data) and never a nested-loop/cartesian fallback. The round-5
    A/B retired the collect_list(struct) bucket-aggregate form: the
    equi-join shuffles plain rows instead of serializing arrays
    (1.20 s vs 1.81 s at sf1) and streams the per-bucket quadratic
    expansion instead of materializing it as one row."""
    df = QUERIES["j7_interval_overlap"](spark, sf_dir)
    # the join keys must include the window column, not just the key —
    # assert on the analyzed plan where the join condition is explicit
    analyzed = df._jdf.queryExecution().analyzed().toString()
    join_line = next(ln for ln in analyzed.split("\n") if "Join Inner" in ln)
    assert "w#" in join_line, f"join must be keyed by window: {join_line}"
    plan = _executed_plan(df)
    for op in ("BroadcastNestedLoopJoin", "CartesianProduct"):
        assert op not in plan, f"{op} in windowed range join"
    # no array aggregation anywhere — the old shape's cost center
    assert "collect_list" not in plan
    # round-6: the fact-proportional windowed table must never broadcast
    # — the hinted shuffle join builds the exchange once and reuses it
    # (sf1 A/B: AQE broadcast 1.33 s vs shuffle_hash 0.81 s)
    assert "BroadcastHashJoin" not in plan, (
        "windowed self-join must not broadcast the fact table"
    )
    assert "ShuffledHashJoin" in plan or "SortMergeJoin" in plan


def test_bm25_vocabulary_join_is_not_hard_broadcast(spark, sf_dir):
    """Round-4 shape: the only broadcast hint is the 1-row corpus stats
    frame — the corpus vocabulary never enters the plan (the row-wise
    query filter precedes the explode) and df rides a window over the
    tiny tf frame, not a join. A second hint would mean something
    unbounded got hinted."""
    df = QUERIES["search_bm25"](spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    n_hints = analyzed.count("ResolvedHint")
    assert n_hints == 1, (
        f"expected exactly one broadcast hint (corpus stats), saw {n_hints}"
    )


def test_bm25_shuffles_only_query_postings(spark, sf_dir):
    """The corpus-wide token stream must never hit an exchange: the
    query-term filter runs INSIDE the scan projection (before the
    explode), so every hash exchange in the plan carries query-term
    postings or per-doc totals only. The old full-tf/dl shape had two
    corpus-wide token shuffles (18.3× DuckDB at sf0.1)."""
    plan = _executed_plan(QUERIES["search_bm25"](spark, sf_dir))
    # postings tf agg + df term-window + per-doc totals: everything after
    # the row-wise query filter, so each moves query-matched rows only
    n = plan.count("Exchange hashpartitioning")
    assert n <= 3, f"expected ≤3 hash exchanges (tf, df window, totals), saw {n}"
    # the corpus must be tokenized at most twice (postings + stats), never
    # three times — a shared-lineage df aggregate would re-explode it
    n_gen = plan.count("Generate explode")
    assert n_gen <= 1, f"expected ≤1 explode (query postings), saw {n_gen}"
    assert "TakeOrderedAndProject" in plan, (
        "final top-20 must be TakeOrderedAndProject, not a global window sort"
    )


def test_quality_classifier_and_weighted_sample_are_map_only(spark, sf_dir):
    """Classifier inference and the quality-weighted downsample are pure
    projections + filters — zero exchanges (the disposition of every
    document must never cost a shuffle at corpus scale)."""
    for name in ("text_quality_classifier", "sample_quality_weighted"):
        plan = _executed_plan(QUERIES[name](spark, sf_dir))
        assert "Exchange hashpartitioning" not in plan, name


def test_q12_single_fact_shuffle_with_pushdown(spark, sf_dir):
    """Q12: the ship-date window reaches the lineitem scan and the
    conditional aggregation costs one hash exchange (orders broadcast at
    this scale)."""
    plan = _executed_plan(QUERIES["q12_shipmode_priority"](spark, sf_dir))
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:300]
    n = plan.count("Exchange hashpartitioning")
    assert n <= 1, f"expected <=1 hash exchange, saw {n}"


def test_q21_decorrelation_has_no_extra_self_joins(spark, sf_dir):
    """Q21's EXISTS/NOT-EXISTS pair must stay decorrelated: no nested-loop
    or cartesian operator anywhere, and the fact table is aggregated, not
    self-joined per predicate."""
    plan = _executed_plan(QUERIES["q21_waiting_suppliers"](spark, sf_dir))
    for op in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert op not in plan, op


def test_chunking_is_map_only(spark, sf_dir):
    """Overlapping-window chunking must stay a pure scan pipeline — zero
    exchanges of any kind."""
    plan = _executed_plan(QUERIES["chunk_documents"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan


def test_tfidf_topk_has_no_window_sort(spark, sf_dir):
    """Round-4 fix (VERDICT r3 task 4): the per-doc top-3 must be the
    TakeOrdered-shaped aggregate — hash-group by doc_id, sort each doc's
    own term array — never a row_number window, which compiles to a full
    Sort of every exchange partition (the sf1 cost driver at 3.16×)."""
    plan = _executed_plan(QUERIES["text_tfidf_topk"](spark, sf_dir))
    assert "Window" not in plan, "per-doc top-k regressed to a window"
    assert "Sort " not in plan and "Sort\n" not in plan, (
        "full sort operator in the tfidf plan — the bounded array "
        "aggregate must not sort whole partitions"
    )


def test_tfidf_single_corpus_explode(spark, sf_dir):
    """The tf relation feeds both the detail side and the df aggregation;
    without the lineage break Spark duplicates the tokenize+explode+
    shuffle subtree and the corpus is processed twice. The checkpointed
    plan must contain exactly one explode."""
    df = QUERIES["text_tfidf_topk"](spark, sf_dir)
    df.count()
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_gen = plan.count("Generate explode") + plan.count("Generate posexplode")
    # one corpus explode + the 3-element posexplode of the top-k array
    assert n_gen <= 2, f"corpus subtree duplicated: {n_gen} generates"


def test_bloom_contamination_prunes_before_any_corpus_shuffle(spark, sf_dir):
    """Round-4 shape: the bloom probe is a row-wise filter between the
    documents scan and the confirm semi-join — the corpus must reach the
    BroadcastHashJoin without crossing a hash exchange, and the only hash
    exchanges in the plan are the eval-distinct build and the final
    per-doc count (both tiny). A corpus-side hash exchange would mean the
    prune runs after a shuffle and the shape is dead at 100 TB."""
    plan = _executed_plan(QUERIES["contamination_bloom"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, (
        "confirm join must be a broadcast semi-join"
    )
    # eval distinct (1, possibly collapsed by AQE) + final groupBy(doc_id)
    n = plan.count("Exchange hashpartitioning")
    assert n <= 2, f"expected ≤2 hash exchanges (eval distinct, count), saw {n}"
    # the probe itself must be column math, not a UDF
    assert "pythonUDF" not in plan and "BatchEvalPython" not in plan


def test_paragraph_dedup_is_two_linear_exchanges(spark, sf_dir):
    """First-occurrence rank partitions by paragraph, re-assembly groups
    by doc — exactly two hash exchanges, with the aggregate split into a
    map-side partial below the second (ObjectHashAggregate partial_*), so
    both moves stay linear in the paragraph count at any scale."""
    plan = _executed_plan(QUERIES["dedup_paragraph_exact"](spark, sf_dir))
    n = plan.count("Exchange hashpartitioning")
    assert n == 2, f"expected exactly 2 hash exchanges (rank, regroup), saw {n}"
    assert "partial_count" in plan, "regroup must keep a map-side partial"
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_bigram_lm_model_joins_broadcast(spark, sf_dir):
    """The bigram/unigram count tables are vocabulary-bounded, so both
    model joins must resolve to broadcast hash joins (AQE decides —
    nothing is hinted) and the corpus pair stream must reach the final
    per-doc aggregate without a sort-merge join; the only corpus-wide
    hash exchange is the groupBy(doc_id)."""
    plan = _executed_plan(QUERIES["text_bigram_lm_score"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, "model joins must broadcast"
    assert "SortMergeJoin" not in plan, "corpus pairs must not shuffle for the model join"


def _optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_q3_prunes_orders_before_fact_shuffle(spark, sf_dir):
    """VERDICT r4 finding #1: the selective BUILDING customer dimension
    must join onto orders BELOW the fact-fact orderkey join, so the
    shuffle moves segment-pruned orders. In the optimized logical plan
    the custkey join is then the INNER join (appears after the orderkey
    join in top-down print order)."""
    plan = _optimized_plan(QUERIES["q3_shipping_priority"](spark, sf_dir))
    assert plan.index("l_orderkey#") < plan.index("o_custkey#"), (
        "customer join must sit beneath the lineitem⋈orders join"
    )


def test_q8_prunes_orders_before_fact_shuffle(spark, sf_dir):
    """VERDICT r4 findings #1/#2 for q8: the EUROPE cust→nation→region
    chain prunes orders beneath the fact-fact join, and the scaling
    dimensions carry no hard broadcast hint (ResolvedHint only on
    nation/region)."""
    df = QUERIES["q8_market_share"](spark, sf_dir)
    plan = _optimized_plan(df)
    assert plan.index("l_orderkey#") < plan.index("o_custkey#")
    # executed plan still broadcasts the dimensions at test scale (AQE)
    executed = _executed_plan(df)
    assert executed.count("BroadcastHashJoin") >= 4


def test_factory_exhibits_have_bounded_plans(spark, sf_dir):
    """SCALE.md §12: the f20 post-mortem — PushDownPredicates substitutes
    aliases through projections with no cost guard, so a `.filter()` on a
    chained multi-reference expression (composed→full→id) exploded the
    optimized plan to 136 KB, blew janino's 64 KB method limit, and
    dropped the whole fused stage to interpreted eval (302 s at sf1).
    Gate every statement-factory exhibit on optimized-plan size; the
    fixed shapes sit at 1-12 KB, so 32 KB catches a substitution
    regression with a wide margin while never flagging a legitimate
    shape change."""
    for name in (
        "f16_make_security",
        "f17_make_identification",
        "f18_make_sanction",
        "f19_make_occupancy",
        "f20_make_address",
    ):
        plan = _optimized_plan(QUERIES[name](spark, sf_dir))
        assert len(plan) < 32_768, (
            f"{name}: optimized plan is {len(plan)} chars — an alias "
            "substitution blowup (see SCALE.md §12)"
        )


def test_f20_null_id_drop_is_generator_not_filter(spark, sf_dir):
    """The NULL-id row drop must live inside the inline generator
    (`inline(when(cond, array(...)))`), not a Filter node above the
    projection — a Filter on the id expression is exactly what
    PushDownPredicates turns into the 125 KB scan predicate."""
    plan = _optimized_plan(QUERIES["f20_make_address"](spark, sf_dir))
    below_generate = plan[plan.index("Generate"):]
    assert "Filter" not in below_generate, (
        "Filter found below the inline generator — the NULL-id drop "
        "must be the conditional array, not a pushable predicate"
    )


def test_k3_simple_csv_is_single_shuffle(spark, sf_dir):
    """VERDICT r5 #1: the fused K3 sink must be ONE hash exchange — the
    address book broadcasts (map-side), every CSV column a conditional
    aggregate in the same groupBy. The RoundRobin harness repartition in
    catalog.load does not count (it is not a hash exchange)."""
    plan = _executed_plan(QUERIES["k3_simple_csv"](spark, sf_dir))
    n = plan.count("Exchange hashpartitioning")
    assert n == 1, f"fused K3 must be a single shuffle, saw {n}"
    assert "BroadcastHashJoin" in plan, "address book must broadcast"


def test_mm_decode_wav_real_has_no_exchange(spark, sf_dir):
    """Encode → decode → featurize must be map-only: the two mapInPandas
    stages fuse over the scan partitioning with zero shuffles."""
    plan = _executed_plan(QUERIES["mm_decode_wav_real"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan


def test_mm_decode_ppm_real_has_no_exchange(spark, sf_dir):
    plan = _executed_plan(QUERIES["mm_decode_ppm_real"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan


def test_mm_decode_bmp_real_has_no_exchange(spark, sf_dir):
    plan = _executed_plan(QUERIES["mm_decode_bmp_real"](spark, sf_dir))
    assert "Exchange hashpartitioning" not in plan


def test_graph_risk_propagation_plan(spark, sf_dir):
    """The distributed risk-propagation hop must stay join-shaped: seed
    gates as semi joins, suppression as anti joins, no cartesian
    product, and no Python in the row path."""
    plan = _executed_plan(QUERIES["graph_risk_propagation"](spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dedup_substring_spans_plan(spark, sf_dir):
    """Substring-span dedup stays JVM-side and join/window-shaped: no
    Python in the row path, no cartesian product, and the whole
    pipeline (gram explode → count → semi-join → island window →
    span aggregate) fits in a bounded number of exchanges."""
    plan = _executed_plan(QUERIES["dedup_substring_spans"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange") <= 6


def test_pq_adc_plans_broadcast_codebooks(spark, sf_dir):
    """Both PQ exhibits must keep the scale contract: codebooks/LUT
    broadcast (no shuffle of the corpus for them), no cartesian
    product, no Python in the row path."""
    for name in ("ann_pq_adc", "ann_ivf_pq"):
        plan = _executed_plan(QUERIES[name](spark, sf_dir))
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


def test_bpe_encode_plan_is_jvm_only(spark, sf_dir):
    """BPE-encode (the apply pass) keeps the count-level contract: zero
    Python in any row path, no cartesian product (the per-round winning
    pair is a broadcast 1-row replace, which prints as a broadcast
    nested-loop over ONE row, not a CartesianProduct), and the
    gram-hash dedup discipline: the corpus-sized side contributes only
    the word explode + one join + one aggregation."""
    plan = _executed_plan(QUERIES["text_bpe_encode"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_dedup_substring_shuffle_key_is_hashed(spark, sf_dir):
    """The substring-dedup corpus exchange must key on the 128-bit gram
    hash (two xxhash64 longs), never the raw gram text: the gram string
    must not appear as a shuffle output attribute."""
    plan = _executed_plan(QUERIES["dedup_substring_spans"](spark, sf_dir))
    assert "xxhash64" in plan
    # the exchanges hash-partition on h1/h2, not on a gram string column
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "g#" not in m.group(1), m.group(0)


def test_ivfpq_recall_plan(spark, sf_dir):
    """The recall probe keeps the IVF-PQ scale contract: centroids,
    probe ranks, LUT and the 3-row nprobe dimension all broadcast, no
    Python in the row path. (The nprobe expansion is a non-equi join
    against a broadcast 3-row table — a broadcast nested-loop by
    construction, never a CartesianProduct.)"""
    plan = _executed_plan(QUERIES["ann_ivfpq_recall"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bpe_apply_plan_depth_is_bounded(spark, sf_dir):
    """The production-shape BPE apply (round 11) must pay for its merge
    budget on the VOCABULARY side only, at constant plan depth: exactly
    one ArrowEvalPython stage (the 128-merge closure over distinct
    words), no Python anywhere else, no cartesian product, and a
    bounded number of exchanges regardless of merge count — the
    property ``text_bpe_encode``'s per-round plan layers cannot have."""
    plan = _executed_plan(QUERIES["text_bpe_apply"](spark, sf_dir))
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # vocab agg + pair agg + vocab-encode join + per-doc agg: the corpus
    # side contributes one explode + one join + one aggregation, same
    # budget as text_bpe_encode's corpus side
    assert plan.count("Exchange") <= 6


def test_consolidate_entities_is_map_only(spark, sf_dir):
    """The export-time consolidation pass (round 11) must add ZERO
    exchanges when no protected-names side is supplied: prefix-date
    drop, name reduction and the undirected-endpoint fix are all
    per-row array logic on the properties map. (With statements, the
    only additions are the bounded protected-names aggregation and its
    canonical_id join.)"""
    from opensanctions_spark.catalog.exporters import _export_entities
    from opensanctions_spark.operators.consolidate import consolidate_entities

    entities = _export_entities(spark, sf_dir)
    base = _executed_plan(entities)
    cons = _executed_plan(consolidate_entities(entities))
    assert cons.count("Exchange") == base.count("Exchange")
    assert "BatchEvalPython" not in cons and "ArrowEvalPython" not in cons
    assert "CartesianProduct" not in cons
