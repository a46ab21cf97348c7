"""Exporters (SURVEY §2.2 K1-K12): sink projections over the entity view.

The reference feeds ~10 sinks from ONE shared scan of the entity store
(``zavod/zavod/exporters/__init__.py:49-84``). The Spark rendering: build
the entities DataFrame once, ``persist()`` it, then run each sink's write
action — Catalyst reuses the cached scan, so N sinks still cost one
assembly shuffle (SURVEY §4 "multi-sink single scan").

Every sink is a pure DataFrame→DataFrame projection (testable, oracle-able)
plus a thin deterministic writer. Writers ``orderBy`` before writing because
the reference relies on LevelDB key order for stable golden files
(SURVEY §4 custom-work item 4).

Scale notes:
- the entity view is persisted at MEMORY_AND_DISK: at 100 TB the cache
  spills per-partition, and each sink's projection is a narrow map over the
  cached partitions — no extra shuffles;
- adjacency sinks (simplecsv/nested/senzing) share ONE adjacency join
  (``adjacent_entities``) rather than joining per sink — the reference's
  ViewFragment LRU cache (``zavod/zavod/exporters/fragment.py:15-65``)
  becomes a single shuffle reused by every consumer.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opensanctions_spark.model.registry import (
    ENTITY_PROPS,
    RISK_TOPICS,
    common_schema_rank_column,
)

MATCHABLE_SCHEMATA = ["Person", "Company", "Organization", "LegalEntity", "Vessel", "PublicBody"]


def prop_values(properties: Column, prop: str) -> Column:
    """properties map -> sorted value array for one prop ([] if absent)."""
    return F.coalesce(properties[prop], F.array().cast("array<string>"))


def target_flag(properties: Column) -> Column:
    """Derived target flag (P1): topics ∩ RISK_TOPICS ≠ ∅
    (``zavod/zavod/entity.py:164-167``)."""
    risks = F.array(*[F.lit(t) for t in RISK_TOPICS])
    return F.size(F.array_intersect(prop_values(properties, "topics"), risks)) > 0


# --------------------------------------------------------------------------
# adjacency (shared by K3/K4/K5) — the ViewFragment analogue


def adjacent_entities(
    entities: DataFrame,
    props: list[str] | None = None,
    targets: DataFrame | None = None,
) -> DataFrame:
    """Forward adjacency (J3): one row per (entity, prop, adjacent entity).

    Explodes the entity-typed properties and self-joins back to the entity
    view — the declarative form of ``Entity.to_nested_dict``'s neighbour
    lookup (``zavod/zavod/entity.py:174-198``). Returns columns
    (canonical_id, prop, adj_id, adj_schema, adj_properties).

    ``targets`` narrows the frame the references resolve AGAINST (default:
    ``entities`` itself). When the caller knows the referenced population —
    e.g. ``addressEntity`` refs only ever point at Address entities — a
    pre-filtered target view lets the filter push below the target's
    assembly aggregation and shrinks the join's build side from the whole
    entity universe to the referenced slice.
    """
    props = props or list(ENTITY_PROPS)
    if targets is None:
        targets = entities

    def tag(p: str):
        # single-arg lambda: F.transform passes (element, index) to 2-arg ones
        return lambda v: F.struct(F.lit(p).alias("prop"), v.alias("adj_id"))

    refs = entities.select(
        "canonical_id",
        F.explode(
            F.flatten(
                F.array(*[
                    F.transform(prop_values(F.col("properties"), p), tag(p))
                    for p in props
                ])
            )
        ).alias("ref"),
    ).select("canonical_id", "ref.prop", "ref.adj_id")
    adj = targets.select(
        F.col("canonical_id").alias("adj_id"),
        F.col("schema").alias("adj_schema"),
        F.col("properties").alias("adj_properties"),
    )
    return refs.join(adj, "adj_id", "inner")


def reverse_adjacency(entities: DataFrame, props: list[str] | None = None) -> DataFrame:
    """Reverse adjacency: who points AT each entity (``get_inverted``,
    ``zavod/zavod/exporters/fragment.py:33-65``). Columns
    (canonical_id, rev_prop, rev_id, rev_schema)."""
    props = props or list(ENTITY_PROPS)

    def tag(p: str):
        return lambda v: F.struct(F.lit(p).alias("rev_prop"), v.alias("canonical_id"))

    refs = entities.select(
        F.col("canonical_id").alias("rev_id"),
        F.col("schema").alias("rev_schema"),
        F.explode(
            F.flatten(
                F.array(*[
                    F.transform(prop_values(F.col("properties"), p), tag(p))
                    for p in props
                ])
            )
        ).alias("ref"),
    ).select("rev_id", "rev_schema", "ref.rev_prop", F.col("ref.canonical_id"))
    return refs.join(
        entities.select("canonical_id"), "canonical_id", "left_semi"
    )


# --------------------------------------------------------------------------
# K1: FtM entities JSON (zavod/zavod/exporters/ftm.py:7-21)


def entity_referents(statements: DataFrame) -> DataFrame:
    """(canonical_id, referents, datasets) from the statement IR — the
    ``Entity.to_dict`` referent/dataset lists
    (``zavod/zavod/entity.py:123-141``): every non-canonical source id
    that resolved into the entity, and every dataset that stated it.
    One aggregation on canonical_id — the key the statements are
    already clustered on after assembly's repartition."""
    return (
        statements.groupBy("canonical_id")
        .agg(
            F.collect_set("entity_id").alias("_eids"),
            F.array_sort(F.collect_set("dataset")).alias("datasets"),
            # last_change = the newest FIRST_seen: the most recent time a
            # statement VALUE first appeared (a re-sighting moves only
            # last_seen) — the reference's per-entity last_change
            F.max("first_seen").alias("last_change"),
        )
        .select(
            "canonical_id",
            F.array_sort(
                F.filter("_eids", lambda x: x != F.col("canonical_id"))
            ).alias("referents"),
            "datasets",
            "last_change",
        )
    )


def ftm_entities(entities: DataFrame, refs: DataFrame | None = None) -> DataFrame:
    """One JSON document per entity — map props stay multi-valued arrays.
    ``refs`` (from :func:`entity_referents`) adds the reference
    to_dict's ``referents`` and ``datasets`` lists to each document."""
    if refs is not None:
        entities = entities.join(refs, "canonical_id", "left")
    ref_cols = (
        [
            F.coalesce(F.col("referents"), F.array()).alias("referents"),
            F.coalesce(F.col("datasets"), F.array()).alias("datasets"),
            F.coalesce(F.col("last_change"), F.col("last_seen")).alias(
                "last_change"
            ),
        ]
        if refs is not None
        else []
    )
    return entities.select(
        F.col("canonical_id").alias("id"),
        F.to_json(
            F.struct(
                F.col("canonical_id").alias("id"),
                F.col("schema"),
                F.col("properties"),
                target_flag(F.col("properties")).alias("target"),
                F.col("first_seen"),
                F.col("last_seen"),
                *ref_cols,
            )
        ).alias("entity"),
    )


# --------------------------------------------------------------------------
# K2: statements CSV (zavod/zavod/exporters/statements.py:9-30)

STATEMENT_CSV_COLUMNS = [
    "id", "entity_id", "canonical_id", "prop", "schema", "value",
    "dataset", "lang", "original_value", "external", "first_seen", "last_seen",
]


def statements_csv(statements: DataFrame) -> DataFrame:
    """Raw granular statement projection in the reference's column order."""
    cols = [c for c in STATEMENT_CSV_COLUMNS if c in statements.columns]
    return statements.select(*cols)


# --------------------------------------------------------------------------
# K3: simple CSV (zavod/zavod/exporters/simplecsv.py:12-115)


def simple_csv(entities: DataFrame, adjacency: DataFrame | None = None) -> DataFrame:
    """Flattened target projection: multi-valued props joined ';' after
    sorting, countries collected from adjacent Address entities (the
    reference pulls them through the ViewFragment join,
    ``zavod/zavod/exporters/simplecsv.py:78-109``)."""
    props = F.col("properties")
    flat = entities.select(
        F.col("canonical_id").alias("id"),
        F.col("schema").alias("entity_schema"),
        F.array_join(prop_values(props, "name"), ";").alias("name"),
        F.array_join(prop_values(props, "country"), ";").alias("countries"),
        target_flag(props).alias("target"),
        "first_seen",
        "last_seen",
    )
    if adjacency is None:
        return flat.withColumn("addresses", F.lit(""))
    addr = (
        adjacency.filter(F.col("adj_schema") == "Address")
        .select(
            "canonical_id",
            F.explode(prop_values(F.col("adj_properties"), "full")).alias("addr"),
        )
        .groupBy("canonical_id")
        .agg(F.array_join(F.array_sort(F.collect_set("addr")), ";").alias("addresses"))
        .withColumnRenamed("canonical_id", "id")
    )
    return flat.join(addr, "id", "left").withColumn(
        "addresses", F.coalesce(F.col("addresses"), F.lit(""))
    )


def simple_csv_fused(
    statements: DataFrame, address_lookup: DataFrame | None = None
) -> DataFrame:
    """One-shuffle K3 (q14-style conditional projection): the flat
    target projection computed directly over raw STATEMENTS, every output
    column a conditional aggregate sharing ONE groupBy(canonical_id).

    ``simple_csv(assemble_entities(stmts), adjacency)`` costs three
    exchanges: the assembly shuffle (which materializes the full
    ``map<prop, array>`` even though the sink reads three props), the
    address-collection groupBy, and the flat×addresses join. Here the
    sink's projection is pushed THROUGH the aggregation — a rewrite
    Catalyst cannot do across ``collect_set``/``map_from_entries`` — so
    the plan is a single hash aggregate whose shuffle carries only the
    columns the CSV prints.

    ``address_lookup`` (columns ``ref``, ``addr``) resolves
    ``addressEntity`` references to display addresses. It is one row per
    REFERENCED Address entity — geo data, bounded by places rather than
    by facts — so it broadcasts onto the statements before the shuffle
    (map-side, no exchange). For an UNBOUNDED address book keep the
    general ``simple_csv`` composition instead; this fast path's contract
    is the dimension-like case.

    Semantics match ``simple_csv`` exactly (reference:
    ``zavod/zavod/exporters/simplecsv.py:12-115``); equivalence is
    asserted in ``tests/test_exporters.py`` and by the ``k3_simple_csv``
    DuckDB oracle.
    """
    if address_lookup is not None:
        statements = (
            statements.withColumn(
                "__ref",
                F.when(F.col("prop") == "addressEntity", F.col("value")),
            )
            .join(
                F.broadcast(
                    address_lookup.select(
                        F.col("ref").alias("__ref"), F.col("addr").alias("__addr")
                    )
                ),
                "__ref",
                "left",
            )
            .drop("__ref")
        )
    else:
        statements = statements.withColumn("__addr", F.lit(None).cast("string"))
    rank = common_schema_rank_column(F.col("schema"))

    def _joined(prop: str) -> Column:
        # collect_set skips NULLs, so the WHEN filters row-conditionally
        return F.array_join(
            F.array_sort(
                F.collect_set(F.when(F.col("prop") == prop, F.col("value")))
            ),
            ";",
        )

    return statements.groupBy(F.col("canonical_id").alias("id")).agg(
        F.max_by("schema", rank).alias("entity_schema"),
        _joined("name").alias("name"),
        _joined("country").alias("countries"),
        F.max(
            (F.col("prop") == "topics") & F.col("value").isin(list(RISK_TOPICS))
        ).alias("target"),
        F.min("first_seen").alias("first_seen"),
        F.max("last_seen").alias("last_seen"),
        F.array_join(F.array_sort(F.collect_set("__addr")), ";").alias("addresses"),
    )


# --------------------------------------------------------------------------
# K4: nested JSON (zavod/zavod/exporters/nested.py:6-22)


def nested_entities(entities: DataFrame, adjacency: DataFrame,
                    reverse: DataFrame | None = None,
                    refs: DataFrame | None = None) -> DataFrame:
    """Depth-1 graph embedding for target entities: collect adjacent
    entities (forward via entity props, reverse via pointing edges) into a
    sorted array — the bounded, cycle-free rendering of ``to_nested_dict``
    (``zavod/zavod/entity.py:174-198``). ``refs`` (from
    :func:`entity_referents`) adds the reference document's per-entity
    ``datasets``/``last_change`` plus the seen range (the
    test_nested.py field set)."""
    fwd = adjacency.select(
        "canonical_id",
        F.concat_ws(":", F.col("prop"), F.col("adj_id")).alias("link"),
    )
    links = fwd
    if reverse is not None:
        rev = reverse.select(
            "canonical_id",
            F.concat_ws(":", F.concat(F.lit("~"), F.col("rev_prop")), F.col("rev_id")).alias("link"),
        )
        links = fwd.unionByName(rev)
    nested = links.groupBy("canonical_id").agg(
        F.array_sort(F.collect_set("link")).alias("links")
    )
    targets = entities.filter(target_flag(F.col("properties")))
    extra = []
    if refs is not None:
        targets = targets.join(refs, "canonical_id", "left")
        extra = [
            F.coalesce(F.col("datasets"), F.array()).alias("datasets"),
            F.col("first_seen"),
            F.col("last_seen"),
            F.coalesce(F.col("last_change"), F.col("last_seen")).alias(
                "last_change"
            ),
        ]
    return (
        targets.join(nested, "canonical_id", "left")
        .select(
            F.col("canonical_id").alias("id"),
            F.col("schema").alias("entity_schema"),
            F.coalesce(F.size("links"), F.lit(0)).alias("n_adjacent"),
            F.array_join(F.coalesce(F.col("links"), F.array().cast("array<string>")), ";").alias("nested"),
            *extra,
        )
    )


# --------------------------------------------------------------------------
# K5: Senzing JSON (zavod/zavod/exporters/senzing.py:65-273)


def senzing_records(entities: DataFrame, dataset: str = "OPEN_SANCTIONS") -> DataFrame:
    """Record-linkage vendor projection: matchable schemata only (P4),
    RECORD_TYPE by schema family, primary name + countries."""
    props = F.col("properties")
    record_type = (
        F.when(F.col("schema") == "Person", "PERSON")
        .when(F.col("schema").isin("Company", "Organization", "PublicBody"), "ORGANIZATION")
        .otherwise("GENERIC")
    )
    return entities.filter(F.col("schema").isin(MATCHABLE_SCHEMATA)).select(
        F.col("canonical_id").alias("RECORD_ID"),
        F.lit(dataset).alias("DATA_SOURCE"),
        record_type.alias("RECORD_TYPE"),
        # try_element_at: an entity with no name must export with a null
        # NAME_FULL, not fail the task (ANSI element_at throws on empty)
        F.try_element_at(prop_values(props, "name"), F.lit(1)).alias("NAME_FULL"),
        F.array_join(prop_values(props, "country"), "|").alias("COUNTRIES"),
    )


# --------------------------------------------------------------------------
# K6: names.txt (zavod/zavod/exporters/names.py:8-29)


def names_export(entities: DataFrame) -> DataFrame:
    """Distinct sorted names across name-ish props (the reference hashes
    seen names to dedupe; distinct() is the declarative form)."""
    props = F.col("properties")
    name_arrays = F.flatten(
        F.array(*[prop_values(props, p) for p in ("name", "alias", "weakAlias")])
    )
    return (
        entities.select(F.explode(name_arrays).alias("name"))
        .filter(F.length("name") > 0)
        .distinct()
    )


# --------------------------------------------------------------------------
# K7: statistics.json (zavod/zavod/exporters/statistics.py:73-170)


def entity_countries(props) -> "F.Column":
    """``entity.countries`` — the DISTINCT values of every country-typed
    prop (country, jurisdiction, mainCountry, nationality, citizenship):
    the reference's ``get_type_values(registry.country)``, which every
    statistics observer iterates (``statistics.py:109,119``). Counting
    only ``properties['country']`` undercounts any dataset whose country
    signal lives in nationality or jurisdiction."""
    from opensanctions_spark.model.registry import TYPE_PROPS

    return F.array_distinct(
        F.flatten(
            F.array(
                *[
                    F.coalesce(props[p], F.array())
                    for p in TYPE_PROPS["country"]
                ]
            )
        )
    )


def statistics_facets_grouped(entities: DataFrame) -> DataFrame:
    """Long statistics facet table (facet, value, n) for K7/A2, via
    GROUPING SETS: schema counts, country counts, target counts and the
    grand total. The country facet is the reference's
    ``thing_countries``: distinct country-typed values per entity,
    Thing-subtree entities only (``statistics.py:106-110``).

    Every facet comes out of a SINGLE aggregation — one Expand node
    feeding one shuffle — instead of one groupBy scan per facet. At
    100 TB this is the difference between one pass over the entity view
    and four (SURVEY §2.4 flags this fusion as the Spark-native upgrade
    over ``zavod/zavod/exporters/statistics.py:93-126``, which loops per
    facet).

    Countries are multi-valued, so the frame is exploded once
    (``posexplode_outer``) and a first-row marker keeps the entity-level
    facets counting ENTITIES (``sum(is_first)``) while the country facet
    counts exploded rows (``count``). Entities without countries surface
    as a NULL country row, which the country facet drops — disambiguated
    from the grouping-set placeholder NULL via ``grouping()``.
    """
    from opensanctions_spark.exporters.metadata import THING_SCHEMATA

    props = F.col("properties")
    base = entities.select(
        "schema",
        target_flag(props).cast("string").alias("target"),
        # thing_countries semantics (statistics.py:106-110): all
        # country-typed props, distinct per entity, Things only — a
        # non-Thing explodes to one NULL row (is_first still marks it)
        F.posexplode_outer(
            F.when(F.col("schema").isin(THING_SCHEMATA), entity_countries(props))
            .otherwise(F.array())
        ).alias("pos", "country"),
    ).select(
        "schema",
        "target",
        "country",
        (F.coalesce(F.col("pos"), F.lit(0)) == 0).cast("long").alias("is_first"),
    )
    agg = base.groupingSets(
        [["schema"], ["country"], ["target"], []],
        "schema",
        "country",
        "target",
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("is_first").alias("n_entities"),
        F.grouping("schema").alias("g_schema"),
        F.grouping("country").alias("g_country"),
        F.grouping("target").alias("g_target"),
    )
    facet = (
        F.when(F.col("g_schema") == 0, F.lit("schema"))
        .when(F.col("g_country") == 0, F.lit("country"))
        .when(F.col("g_target") == 0, F.lit("target"))
        .otherwise(F.lit("total"))
    )
    n = F.when(F.col("g_country") == 0, F.col("n_rows")).otherwise(F.col("n_entities"))
    return (
        agg.filter(~((F.col("g_country") == 0) & F.col("country").isNull()))
        .select(
            facet.alias("facet"),
            F.coalesce("schema", "country", "target", F.lit("entities")).alias("value"),
            n.cast("long").alias("n"),
        )
    )


# --------------------------------------------------------------------------
# K9: securities.csv (zavod/zavod/exporters/securities.py:83-154)


def securities_export(securities: DataFrame, issuers: DataFrame) -> DataFrame:
    """Issuer-centric risk table: securities joined to their issuer entity
    with the issuer's risk flag. Inputs are plain DataFrames
    (security_id, issuer_id[, ...]) and (issuer_id, issuer_name, risky)."""
    return securities.join(F.broadcast(issuers), "issuer_id", "inner")


# --------------------------------------------------------------------------
# K10: maritime.csv (zavod/zavod/exporters/maritime.py:41-103)


def maritime_export(entities: DataFrame) -> DataFrame:
    """IMO-keyed vessel rows: filter Vessel schema, explode imo values."""
    props = F.col("properties")
    return (
        entities.filter(F.col("schema") == "Vessel")
        .select(
            F.explode(prop_values(props, "imoNumber")).alias("imo"),
            F.col("canonical_id").alias("id"),
            # try_element_at: name-less vessels export null, never throw
            F.try_element_at(prop_values(props, "name"), F.lit(1)).alias("vessel_name"),
            F.array_join(prop_values(props, "flag"), ";").alias("flag"),
        )
    )


# --------------------------------------------------------------------------
# K11/K12 + the multi-sink runner


def export_all(entities: DataFrame, statements: DataFrame, out_dir: str,
               dataset: str = "default",
               single_file: bool = True,
               clustered: bool = False,
               version: str = "1",
               run_time: str = "1970-01-01T00:00:00",
               issue_levels: dict[str, int] | None = None,
               dataset_meta: dict | None = None,
               consolidate: bool = True) -> dict[str, int]:
    """Run every file sink off one persisted entity scan; write the K12
    metadata artifacts (index.json / resources.json / statistics.json
    with the reference's published field set — see
    ``exporters/metadata.py``). Returns per-sink row counts.

    ``single_file=True`` (reference parity: one artifact file per sink,
    ``zavod/zavod/exporters/__init__.py:49-84``) funnels each sink
    through one globally-sorted write task — fine at dataset scale, a
    bottleneck past millions of rows. ``single_file=False`` is the
    multi-part cluster path; with ``clustered=True`` (the caller
    vouches the inputs are entity-clustered: a bucketed statement
    archive + the assembly's hash partitioning — ``run_dataset``
    passes its ``pre_clustered`` flag) each sink sorts WITHIN the
    partitions it already has, so no sink pays a range exchange of the
    full data — at sf10 the statements sink's global sort alone
    re-shuffled ~520 MB per run (SCALE.md §21c). Rows are then
    entity-grouped and sorted within each part, matching the
    reference's store-iteration output order (its statements.csv
    streams per-entity, not id-sorted); a global total order across
    part files is deliberately NOT promised in that mode. With
    ``clustered=False`` the multi-part path keeps the global sort —
    an unclustered statement layout would otherwise scatter one
    entity's rows across arbitrary file splits."""
    os.makedirs(out_dir, exist_ok=True)
    # every sink except the raw statements CSV consumes the CONSOLIDATED
    # view (the reference's export loop: feed_unconsolidated for the
    # statements sink, then consolidate_entity for everyone else —
    # zavod/zavod/exporters/__init__.py:70-84)
    if consolidate:
        from opensanctions_spark.operators.consolidate import (
            consolidate_entities,
        )

        entities = consolidate_entities(entities, statements)
    entities = entities.persist()
    adjacency = adjacent_entities(entities).persist()
    counts: dict[str, int] = {}

    # persist: the referents aggregation feeds TWO sinks (ftm + nested);
    # unpersisted each would re-shuffle the full statement table
    refs = entity_referents(statements).persist()
    sinks: dict[str, tuple[DataFrame, list[str]]] = {
        "entities.ftm.json": (ftm_entities(entities, refs), ["id"]),
        # entity-grouped like the reference's store iteration (id is the
        # in-entity tiebreak); on a bucketed archive the scan is already
        # clustered+sorted on canonical_id, so the cluster path's
        # sortWithinPartitions is a partial sort with zero exchange
        "statements.csv": (statements_csv(statements), ["canonical_id", "id"]),
        "targets.simple.csv": (simple_csv(entities, adjacency), ["id"]),
        "targets.nested.json": (
            nested_entities(entities, adjacency, reverse_adjacency(entities),
                            refs=refs), ["id"]),
        "senzing.json": (senzing_records(entities), ["RECORD_ID"]),
        "names.txt": (names_export(entities), ["name"]),
        "maritime.csv": (maritime_export(entities), ["imo"]),
    }
    # per-sink row counts ride the write action itself (df.observe) — no
    # second materialization per sink; with 8 sinks that halves the number
    # of jobs the export stage runs
    from pyspark.sql import Observation

    for fname, (df, order) in sinks.items():
        path = os.path.join(out_dir, fname)
        obs = Observation(f"rows:{fname}")
        if not single_file and clustered:
            # cluster path: sort within the partitioning the input already
            # carries — no per-sink range exchange (see docstring)
            ordered = df.sortWithinPartitions(*order).observe(
                obs, F.count(F.lit(1)).alias("n")
            )
        else:
            # observe ABOVE the sort: the global sort's range-partitioning
            # sampling pass re-executes everything below it, which would
            # double-count metrics attached under the exchange
            ordered = df.orderBy(*order).observe(
                obs, F.count(F.lit(1)).alias("n")
            )
            if single_file:
                ordered = ordered.coalesce(1)
        if fname.endswith(".csv"):
            ordered.write.mode("overwrite").option("header", True).csv(path)
        elif fname.endswith(".json"):
            ordered.write.mode("overwrite").json(path)
        else:
            ordered.write.mode("overwrite").text(path)
        counts[fname] = obs.get["n"]

    # K12: the reference's metadata artifact set (index.json /
    # resources.json / statistics.json) off the same persisted view —
    # statement_count rides the statements.csv observation, the facet
    # aggregations are bounded by schemata × countries × properties
    from opensanctions_spark.exporters.metadata import write_metadata

    index = write_metadata(
        out_dir,
        dataset,
        entities,
        counts,
        version=version,
        run_time=run_time,
        issue_levels=issue_levels,
        dataset_meta=dataset_meta,
    )
    index["statement_count"] = counts.get("statements.csv", 0)
    with open(os.path.join(out_dir, "index.json"), "w") as fh:
        json.dump(index, fh, indent=2, sort_keys=True)
    adjacency.unpersist()
    entities.unpersist()
    refs.unpersist()
    return counts
