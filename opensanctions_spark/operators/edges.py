"""Edge deduplication: the composed dedupe-edges lifecycle (SURVEY J7).

The reference merges edge entities (Directorship, Ownership, Family, ...)
that connect the same endpoints and are temporally compatible
(``zavod/zavod/integration/edges.py``): bucket by (schema, source,
target) — endpoints sorted for undirected schemata, self-loops and
multi/zero-ended edges discarded (78-110) — then treat partial-ISO dates
as the RANGE they can represent (129-154: ``2025`` matches any date
inside that year), remove AMBIGUOUS temporal bridges (a node compatible
with two mutually-incompatible neighbors, 260-279) so a vague ``2025``
cannot arbitrarily pick between ``2025-01-01`` and ``2025-12-31``, merge
only the remaining groups whose members are PAIRWISE compatible
(234-321 — range overlap is not transitive), and refuse groups where a
schema-declared PROTECTED property conflicts (57-75, 324-422: pairwise
set intersection over slugified values, empty-as-wildcard).

Spark shape: one groupBy on the bucket key; ordered pair expansion
inside each bucket (``operators.blocking.bucket_pairs``; buckets are
edges sharing BOTH endpoints — small by construction, so the quadratic
term is per-bucket); ambiguous-node filter and connected components
over the compatible pairs; then a pairwise-consistency count filter
(|compatible pairs in group| == n(n-1)/2, temporal AND protected-prop)
before any merge. At 100 TB the bucket key carries the shuffle and
every later join is on the (tiny) pair/group tables.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opensanctions_spark.operators.blocking import bucket_pairs
from opensanctions_spark.operators.resolve import connected_components

#: partial ISO date shapes the range parser accepts (reference:
#: ``PARTIAL_ISO_DATE`` in zavod/zavod/integration/edges.py)
_PARTIAL_ISO = r"^\d{4}(-\d{2}(-\d{2})?)?$"

#: schema → properties that must not conflict inside a merge group
#: (reference ``PROTECTED_PROPS``, zavod/zavod/integration/edges.py:57-75).
#: Applied by default, keyed by exact schema name — the reference resolves
#: subtypes via ``schema.is_a``; FtM declares no edge subtypes in practice,
#: so exact matching is equivalent for real data.
PROTECTED_PROPS: dict[str, list[str]] = {
    "Ownership": ["percentage", "sharesCount", "sharesValue", "sharesCurrency"],
    "Directorship": ["role"],
    "Employment": ["role"],
    "Membership": ["role"],
    "Representation": ["role"],
    "Associate": ["relationship"],
    "Family": ["relationship"],
    "UnknownLink": ["role"],
    "Payment": ["amount", "currency", "amountUsd", "date", "purpose"],
    "Value": ["amount", "currency", "amountUsd"],
    "Occupancy": ["constituency", "politicalGroup", "status"],
}


def prefix_date_ranges(values: Column) -> Column:
    """array<string> of partial-ISO dates → array<struct<lo:date,hi:date>>.

    ``2025`` → [2025-01-01, 2025-12-31]; ``2025-06`` → the whole month
    (last_day handles month lengths); ``2025-06-15`` → the single day.
    Calendar-invalid values (month 13, Feb 30) drop out via try_to_date —
    the caller falls back to exact equality for those, like the
    reference (``edges.py:180-189``)."""
    def to_range(v: Column) -> Column:
        lo = F.try_to_date(
            F.when(F.length(v) == 4, F.concat(v, F.lit("-01-01")))
            .when(F.length(v) == 7, F.concat(v, F.lit("-01")))
            .otherwise(v)
        )
        hi = F.when(F.length(v) == 4, F.try_to_date(F.concat(v, F.lit("-12-31")))).otherwise(
            F.when(F.length(v) == 7, F.last_day(lo)).otherwise(lo)
        )
        return F.struct(lo.alias("lo"), hi.alias("hi"))

    parseable = F.filter(values, lambda v: v.rlike(_PARTIAL_ISO))
    return F.filter(
        F.transform(parseable, to_range), lambda r: r["lo"].isNotNull()
    )


def slugify_value(v: Column) -> Column:
    """Column-side analogue of the reference's ``slugify`` normalization
    for protected values (``edges.py:293-300``): lowercase, collapse
    non-alphanumeric runs to ``-``, trim, NULL when nothing survives.
    (The reference additionally latinizes via the normality library;
    ASCII-ish protected values — percentages, roles, currencies — are
    unaffected.)"""
    s = F.regexp_replace(F.lower(v), r"[^a-z0-9]+", "-")
    s = F.regexp_replace(s, r"^-+|-+$", "")
    return F.when(s == "", F.lit(None).cast("string")).otherwise(s)


def _sets_compatible(lv: Column, rv: Column, lr: Column, rr: Column) -> Column:
    """The reference's ``dates_compatible``: empty sets match everything;
    parseable sets compare as range overlap (ANY pair); sets with no
    parseable member fall back to exact-value intersection."""
    any_overlap = F.exists(
        lr,
        lambda a: F.exists(
            rr, lambda b: (a["lo"] <= b["hi"]) & (b["lo"] <= a["hi"])
        ),
    )
    return (
        F.when((F.size(lv) == 0) | (F.size(rv) == 0), F.lit(True))
        .when((F.size(lr) > 0) & (F.size(rr) > 0), any_overlap)
        .otherwise(F.arrays_overlap(lv, rv))
    )


def _protected_value_sets(
    edges: DataFrame, protected_props: list[str] | None
) -> Column:
    """Per-edge ``array<array<string>>`` of slugified protected value
    sets, index-aligned with the schema's protected-prop list (or the
    caller's override list). Comparisons only ever happen inside one
    bucket — same schema — so per-schema lengths never mix."""
    empty = F.array().cast("array<array<string>>")
    if "props" not in edges.columns:
        return empty

    def sets_for(props: list[str]) -> Column:
        return F.array(
            *[
                F.array_distinct(
                    F.filter(
                        F.transform(
                            F.coalesce(
                                F.col("props").getItem(p),
                                F.array().cast("array<string>"),
                            ),
                            slugify_value,
                        ),
                        lambda x: x.isNotNull(),
                    )
                )
                for p in props
            ]
        )

    if protected_props is not None:
        return sets_for(protected_props) if protected_props else empty

    expr = None
    for schema_name, props in PROTECTED_PROPS.items():
        cond = F.col("schema") == schema_name
        expr = F.when(cond, sets_for(props)) if expr is None else expr.when(
            cond, sets_for(props)
        )
    assert expr is not None
    return expr.otherwise(empty)


def dedupe_edges(
    edges: DataFrame,
    undirected: bool = False,
    protected_props: list[str] | None = None,
) -> DataFrame:
    """edges(id, schema, src, tgt, starts: array<string>,
    ends: array<string>[, props: map<string,array<string>>]) →
    (id, canonical_id, merged).

    Reference-parity semantics (``zavod/zavod/integration/edges.py``):
    self-loop / null-endpoint edges never bucket; null temporal arrays
    read as empty (wildcard); ambiguous temporal bridges are removed
    before grouping; a group merges only when EVERY member pair is
    temporally compatible AND protected-prop compatible (pairwise
    slugified-set intersection, empty-as-wildcard). ``protected_props``
    overrides the per-schema ``PROTECTED_PROPS`` default for all rows;
    pass ``[]`` to disable the protected check. Canonical = min id.
    """
    key_src = F.least("src", "tgt") if undirected else F.col("src")
    key_tgt = F.greatest("src", "tgt") if undirected else F.col("tgt")
    sv = F.coalesce(F.col("starts"), F.array().cast("array<string>"))
    ev = F.coalesce(F.col("ends"), F.array().cast("array<string>"))

    member = F.struct(
        F.col("id").alias("id"),
        sv.alias("sv"),
        ev.alias("ev"),
        prefix_date_ranges(sv).alias("sr"),
        prefix_date_ranges(ev).alias("er"),
        _protected_value_sets(edges, protected_props).alias("pv"),
    )
    buckets = (
        edges.filter(
            F.col("src").isNotNull()
            & F.col("tgt").isNotNull()
            & (F.col("src") != F.col("tgt"))
        )
        .select(
            F.col("schema").alias("k_schema"),
            key_src.alias("k_src"),
            key_tgt.alias("k_tgt"),
            member.alias("m"),
        )
        .groupBy("k_schema", "k_src", "k_tgt")
        .agg(F.sort_array(F.collect_list("m")).alias("members"))
        .filter(F.size("members") > 1)
    )
    # ordered in-bucket pairs. compat = temporal; pcompat = protected-prop
    # pairwise set check.
    pairs = bucket_pairs(
        buckets,
        "members",
        lambda x, y: F.struct(
            x["id"].alias("left_id"),
            y["id"].alias("right_id"),
            (
                _sets_compatible(x["sv"], y["sv"], x["sr"], y["sr"])
                & _sets_compatible(x["ev"], y["ev"], x["er"], y["er"])
            ).alias("compat"),
            F.forall(
                F.zip_with(
                    x["pv"],
                    y["pv"],
                    lambda a, b: (F.size(a) == 0)
                    | (F.size(b) == 0)
                    | F.arrays_overlap(a, b),
                ),
                lambda z: z,
            ).alias("pcompat"),
        ),
    )
    from pyspark.storagelevel import StorageLevel

    # persisted because the pair table is consumed four times (ambiguity
    # probe, the eager CC edge collect inside connected_components, and
    # the group-consistency join) — stays cached for the session like
    # the curation plan's survivor frame
    pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    compat_pairs = pairs.filter(F.col("compat")).select("left_id", "right_id")

    # ambiguous-bridge removal (reference edges.py:260-279): a node with
    # two compatible neighbors that are mutually incompatible is dropped
    # before grouping, so the remaining clean subgroups still merge.
    sym = compat_pairs.select(
        F.col("left_id").alias("x"), F.col("right_id").alias("n")
    ).union(
        compat_pairs.select(
            F.col("right_id").alias("x"), F.col("left_id").alias("n")
        )
    )
    incompat = pairs.filter(~F.col("compat")).select(
        F.col("left_id").alias("i_l"), F.col("right_id").alias("i_r")
    )
    # incompat joins FIRST: the as-written s1⋈s2-then-incompat order
    # materialized every node's full neighbor-pair set (degree-quadratic
    # per node — the skewed-bucket killer) before the incompat filter;
    # anchoring on the incompatible pair bounds the intermediate by
    # |incompat| × degree. Same inner-join chain, same rows out.
    ambiguous = (
        incompat.join(sym.alias("s1"), F.col("s1.n") == F.col("i_l"))
        .join(
            sym.alias("s2"),
            (F.col("s2.x") == F.col("s1.x"))
            & (F.col("s2.n") == F.col("i_r"))
            & (F.col("s1.n") < F.col("s2.n")),
        )
        .select(F.col("s1.x").alias("amb_id"))
        .distinct()
    )
    clean_pairs = compat_pairs.join(
        ambiguous, compat_pairs["left_id"] == ambiguous["amb_id"], "left_anti"
    ).join(ambiguous, F.col("right_id") == ambiguous["amb_id"], "left_anti")

    cc = connected_components(
        clean_pairs, src="left_id", dst="right_id", distinct_edges=False
    )
    groups = cc.select(F.col("node").alias("id"), F.col("component"))

    # pairwise consistency: a group merges only if EVERY member pair is
    # temporally compatible AND protected-prop compatible — the joint
    # count must equal n(n-1)/2 (overlap is not transitive, and the
    # reference rejects the whole group on any protected conflict)
    sized = groups.groupBy("component").agg(F.count("*").alias("n"))
    with_groups = pairs.join(
        groups.select(F.col("id").alias("left_id"), F.col("component")),
        "left_id",
    ).join(
        groups.select(
            F.col("id").alias("right_id"), F.col("component").alias("rc")
        ),
        "right_id",
    )
    group_pairs = (
        with_groups.filter(F.col("component") == F.col("rc"))
        .groupBy("component")
        .agg(
            F.sum(
                (F.col("compat") & F.col("pcompat")).cast("long")
            ).alias("n_ok")
        )
    )
    consistent = (
        sized.join(group_pairs, "component")
        .filter(F.col("n_ok") * 2 == F.col("n") * (F.col("n") - 1))
        .select("component")
    )

    merged = (
        groups.join(F.broadcast(consistent), "component")
        .groupBy("component")
        .agg(F.min("id").alias("canonical_id"))
    )
    mapping = groups.join(F.broadcast(consistent), "component").join(
        merged, "component"
    )
    out = edges.select("id").join(
        mapping.select("id", "canonical_id"), "id", "left"
    )
    return out.select(
        "id",
        F.coalesce(F.col("canonical_id"), F.col("id")).alias("canonical_id"),
        (
            F.coalesce(F.col("canonical_id"), F.col("id")) != F.col("id")
        ).alias("merged"),
    )
