"""Exporter catalog queries (SURVEY §2.2): each sink projection run over
the synthetic tables end-to-end — melt → assemble → sink — with the oracle
spelling out the closed form in SQL over the raw tables.

The Spark side deliberately goes through the WHOLE statement pipeline
(statements → entity assembly → adjacency → sink projection) so the oracle
checks the composition, not just the final select.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opensanctions_spark.catalog import load, register
from opensanctions_spark.exporters import (
    adjacent_entities,
    maritime_export,
    names_export,
    nested_entities,
    reverse_adjacency,
    securities_export,
    senzing_records,
    simple_csv_fused,
    statistics_facets_grouped,
)
from opensanctions_spark.model.melt import finish_statements
from opensanctions_spark.operators.assembly import assemble_entities
from opensanctions_spark.session import materialize

# topic synthesized from the market segment (same rule as p1_target_filter)
_TOPIC_SQL = """CASE c_mktsegment WHEN 'BUILDING' THEN 'sanction'
                                  WHEN 'AUTOMOBILE' THEN 'crime' ELSE 'other' END"""


def _export_statements(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The exporter queries' statement frames: (customer statements,
    address statements) — exposed separately so sinks that only need the
    raw reference edges (k3's adjacency) can read them WITHOUT paying a
    second entity assembly."""
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")

    stacked = cust.select(
        F.concat(F.lit("c-"), F.col("c_custkey")).alias("entity_id"),
        F.expr(
            """stack(7,
            'name', c_name, 'LegalEntity',
            'country', cast(c_nationkey as string), 'LegalEntity',
            'balance', cast(c_acctbal as string), 'LegalEntity',
            'segment', c_mktsegment, 'LegalEntity',
            'name', CASE WHEN c_custkey % 3 = 0 THEN upper(c_name) END, 'Person',
            'topics', CASE c_mktsegment WHEN 'BUILDING' THEN 'sanction'
                                        WHEN 'AUTOMOBILE' THEN 'crime'
                                        ELSE 'other' END, 'LegalEntity',
            'addressEntity', 'n-' || cast(c_nationkey as string), 'LegalEntity'
            ) as (prop, value, schema)"""
        ),
    )
    cust_stmts = finish_statements(stacked, dataset="customers")
    addr_stmts = finish_statements(
        nation.select(
            F.concat(F.lit("n-"), F.col("n_nationkey")).alias("entity_id"),
            F.expr("stack(2, 'full', n_name || ' HQ', 'country', n_name) as (prop, value)"),
        ),
        dataset="geo", schema_name="Address",
    )
    return cust_stmts, addr_stmts


def _export_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared entity view for exporter queries: customers as
    LegalEntities (Person for every 3rd via alias widening) with topics and
    an addressEntity reference; nations as Address entities.

    All customer-derived statement kinds (base props, alias name, topic,
    address ref) come out of ONE stack projection over ONE customer scan —
    a row-conditional value (the every-3rd alias) is a NULL the P5 guard in
    ``finish_statements`` drops, so no per-kind union branch re-scans the
    table. Four separate melt branches measured +5% at sf1 locally and
    would be four scans of the fact table on real storage.

    NOT persisted, although exporter queries consume the view 2-4
    times: at query scale the duplicated assembly subplans pipeline in
    parallel across cores, while a persist is a materialization
    barrier. Round-4 A/B at sf1 (k3, min-of-4 with cache cleared):
    plain 1.07 s, localCheckpoint 1.18 s, persist 1.84 s, and a
    split-branch rewrite (cust/addr each assembled from its own
    statement frame, one scan per table) 1.60 s — the duplicated
    branches carry pushed-down prefix filters and pipeline across
    cores, so every materialization variant LOSES. The multi-sink
    batch path (export_all) persists instead — there EIGHT consumers
    amortize the barrier."""
    cust_stmts, addr_stmts = _export_statements(spark, sf_dir)
    return assemble_entities(cust_stmts.unionByName(addr_stmts))


def _address_targets(entities: DataFrame) -> DataFrame:
    """The Address slice of the export view, used as the adjacency target.
    The id-prefix filter ('n-' = the geo dataset) is a predicate on the
    assembly's GROUPING KEY, so Catalyst pushes it below the aggregation
    and the target build collapses from the whole entity universe to the
    address book."""
    return entities.filter(F.col("canonical_id").startswith("n-"))


@register(
    "k3_simple_csv",
    oracle=f"""
WITH names AS (
  SELECT 'c-' || c_custkey AS id, c_name AS name FROM customer
  UNION ALL
  SELECT 'c-' || c_custkey, upper(c_name) FROM customer WHERE c_custkey % 3 = 0
),
agg_names AS (
  SELECT id, string_agg(name, ';' ORDER BY name) AS name
  FROM (SELECT DISTINCT id, name FROM names) GROUP BY id
)
SELECT c.id,
       CASE WHEN c_custkey % 3 = 0 THEN 'Person' ELSE 'LegalEntity' END AS entity_schema,
       a.name,
       CAST(c_nationkey AS VARCHAR) AS countries,
       c_mktsegment IN ('BUILDING', 'AUTOMOBILE') AS target,
       n_name || ' HQ' AS addresses
FROM (SELECT 'c-' || c_custkey AS id, * FROM customer) c
JOIN agg_names a ON a.id = c.id
JOIN nation ON n_nationkey = c_nationkey
""",
)
def k3_simple_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple-CSV sink (K3, ``zavod/zavod/exporters/simplecsv.py:12-115``):
    flatten multi-valued props with sorted ';' joins and pull addresses
    through the adjacency (the ViewFragment analogue).

    Round-6 fused form (VERDICT r5 #1, the suggested q14-style
    conditional projection): every CSV column is a conditional aggregate
    over the raw statements sharing ONE groupBy(canonical_id) — see
    ``simple_csv_fused``. The address book (nation-derived geo data,
    bounded by places not facts) broadcasts onto the reference
    statements pre-shuffle, so the whole sink is a single exchange that
    carries only the columns the CSV prints, instead of round 5's three
    (assembly map build + address groupBy + flat×addresses join).
    History: 2.14 s (r4) → 1.36 s (r5 single-assembly) → fused (r6);
    the composition statements→aggregate→CSV row is still what the
    oracle checks, the sink projection is just pushed through the
    aggregation — a rewrite Catalyst cannot do across collect_set."""
    cust_stmts, addr_stmts = _export_statements(spark, sf_dir)
    addr_lookup = addr_stmts.filter(F.col("prop") == "full").select(
        F.col("canonical_id").alias("ref"), F.col("value").alias("addr")
    )
    return simple_csv_fused(cust_stmts, addr_lookup).drop(
        "first_seen", "last_seen"
    )


@register(
    "k4_nested_json",
    oracle=f"""
WITH targets AS (
  SELECT 'c-' || c_custkey AS id,
         CASE WHEN c_custkey % 3 = 0 THEN 'Person' ELSE 'LegalEntity' END AS entity_schema,
         'addressEntity:n-' || c_nationkey AS link
  FROM customer
  WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
)
SELECT id, entity_schema, 1 AS n_adjacent, link AS nested FROM targets
""",
)
def k4_nested_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-JSON sink (K4, ``zavod/zavod/exporters/nested.py:6-22``):
    depth-1 adjacency embedding for target entities, links sorted for
    deterministic output."""
    entities = _export_entities(spark, sf_dir)
    # refs AND targets only ever originate from customer entities (topics
    # and addressEntity statements exist only there), so both sides use
    # the same 'c-' slice — the filter pushes below the assembly AND the
    # two consumers share one identical subplan (exchange reuse);
    # adjacency resolves against the address book. Round 13: the slice is
    # lazily localCheckpoint-ed — exchange reuse already deduped the
    # below-exchange work, but the post-shuffle assembly aggregation ran
    # once per consumer and the duplicated subtree tripled the plan the
    # driver optimizes; the cut runs the assembly once.
    cust = entities.filter(
        F.col("canonical_id").startswith("c-")
    ).transform(materialize, eager=False)
    adjacency = adjacent_entities(
        cust, props=["addressEntity"], targets=_address_targets(entities)
    )
    return nested_entities(cust, adjacency)


@register(
    "k5_senzing",
    oracle="""
SELECT 'c-' || c_custkey AS RECORD_ID,
       'OPEN_SANCTIONS' AS DATA_SOURCE,
       CASE WHEN c_custkey % 3 = 0 THEN 'PERSON' ELSE 'GENERIC' END AS RECORD_TYPE,
       CASE WHEN c_custkey % 3 = 0 AND upper(c_name) < c_name THEN upper(c_name)
            ELSE c_name END AS NAME_FULL,
       CAST(c_nationkey AS VARCHAR) AS COUNTRIES
FROM customer
""",
)
def k5_senzing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Senzing sink (K5, ``zavod/zavod/exporters/senzing.py:65-273``):
    matchable-schema filter (P4) + record-type mapping + primary name."""
    entities = _export_entities(spark, sf_dir)
    return senzing_records(entities.filter(F.col("canonical_id").startswith("c-")))


@register(
    "k6_names_txt",
    oracle="""
SELECT name FROM (
  SELECT c_name AS name FROM customer
  UNION
  SELECT upper(c_name) FROM customer WHERE c_custkey % 3 = 0
)
""",
)
def k6_names_txt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """names.txt sink (K6/A11, ``zavod/zavod/exporters/names.py:8-29``):
    distinct names across name-ish props."""
    entities = _export_entities(spark, sf_dir)
    return names_export(entities)


@register(
    "k7_statistics",
    oracle=f"""
WITH ents AS (
  SELECT 'c-' || c_custkey AS id,
         CASE WHEN c_custkey % 3 = 0 THEN 'Person' ELSE 'LegalEntity' END AS sch,
         CAST(c_nationkey AS VARCHAR) AS country,
         c_mktsegment IN ('BUILDING', 'AUTOMOBILE') AS target
  FROM customer
  UNION ALL
  SELECT 'n-' || n_nationkey, 'Address', n_name, FALSE FROM nation
)
SELECT 'schema' AS facet, sch AS value, COUNT(*) AS n FROM ents GROUP BY sch
UNION ALL
SELECT 'country', country, COUNT(*) FROM ents WHERE country IS NOT NULL GROUP BY country
UNION ALL
SELECT 'target', CAST(target AS VARCHAR), COUNT(*) FROM ents GROUP BY target
UNION ALL
SELECT 'total', 'entities', COUNT(*) FROM ents
""",
)
def k7_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """statistics.json sink (K7/A2,
    ``zavod/zavod/exporters/statistics.py:73-170``): exact facet counts by
    schema / country / target + grand total, one long table from the
    single GROUPING SETS facet aggregation (``statistics_facets_grouped``,
    shared with ``a2_facets_grouping_sets``)."""
    entities = _export_entities(spark, sf_dir)
    return statistics_facets_grouped(entities)


@register(
    "a2_facets_grouping_sets",
    oracle="""
WITH ents AS (
  SELECT CASE WHEN c_custkey % 3 = 0 THEN 'Person' ELSE 'LegalEntity' END AS sch,
         CAST(c_nationkey AS VARCHAR) AS country,
         CAST(c_mktsegment IN ('BUILDING', 'AUTOMOBILE') AS VARCHAR) AS target
  FROM customer
  UNION ALL
  SELECT 'Address', n_name, 'false' FROM nation
),
agg AS (
  SELECT sch, country, target,
         GROUPING(sch) AS g_sch, GROUPING(country) AS g_country,
         GROUPING(target) AS g_target, COUNT(*) AS n
  FROM ents
  GROUP BY GROUPING SETS ((sch), (country), (target), ())
)
SELECT CASE WHEN g_sch = 0 THEN 'schema'
            WHEN g_country = 0 THEN 'country'
            WHEN g_target = 0 THEN 'target'
            ELSE 'total' END AS facet,
       COALESCE(sch, country, target, 'entities') AS value,
       CAST(n AS BIGINT) AS n
FROM agg
WHERE NOT (g_country = 0 AND country IS NULL)
""",
)
def a2_facets_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass facet family (A2/K7): every facet computed in a single
    Expand + one aggregation shuffle via GROUPING SETS (SURVEY §2.4's
    optional fusion of ``zavod/zavod/exporters/statistics.py:93-126``).
    The Spark side is the same as ``k7_statistics``; only the oracle
    differs (GROUPING SETS here, a union of GROUP BYs there).
    The oracle counts rows because each fixture entity carries exactly one
    country; the Spark side stays correct for multi-valued countries via
    the first-row marker (see ``statistics_facets_grouped``)."""
    entities = _export_entities(spark, sf_dir)
    return statistics_facets_grouped(entities)


@register(
    "k9_securities",
    oracle="""
WITH issuers AS (
  SELECT s_suppkey AS issuer_id, s_name AS issuer_name, s_acctbal < 0 AS risky
  FROM supplier
),
secs AS (
  SELECT 'p-' || p_partkey AS security_id, MIN(l_suppkey) AS issuer_id
  FROM part JOIN lineitem ON l_partkey = p_partkey
  GROUP BY p_partkey
)
SELECT security_id, s.issuer_id, issuer_name, risky
FROM secs s JOIN issuers i ON i.issuer_id = s.issuer_id
""",
)
def k9_securities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """securities.csv sink (K9,
    ``zavod/zavod/exporters/securities.py:83-154``): issuer-centric risk
    table — securities resolved to their issuer (min supplier over trade
    lines) broadcast-joined to the issuer dimension."""
    part = load(spark, sf_dir, "part")
    lineitem = load(spark, sf_dir, "lineitem")
    supplier = load(spark, sf_dir, "supplier")
    secs = (
        part.join(lineitem, part.p_partkey == lineitem.l_partkey)
        .groupBy(F.concat(F.lit("p-"), F.col("p_partkey")).alias("security_id"))
        .agg(F.min("l_suppkey").alias("issuer_id"))
    )
    issuers = supplier.select(
        F.col("s_suppkey").alias("issuer_id"),
        F.col("s_name").alias("issuer_name"),
        (F.col("s_acctbal") < 0).alias("risky"),
    )
    return securities_export(secs, issuers)


@register(
    "k10_maritime",
    oracle="""
SELECT 'IMO' || lpad(CAST(s_suppkey AS VARCHAR), 7, '0') AS imo,
       's-' || s_suppkey AS id,
       s_name AS vessel_name,
       n_name AS flag
FROM supplier JOIN nation ON n_nationkey = s_nationkey
WHERE s_suppkey % 5 = 0
""",
)
def k10_maritime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """maritime.csv sink (K10, ``zavod/zavod/exporters/maritime.py:41-103``):
    Vessel-schema filter + imo explode + flag country."""
    supplier = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    vessels = supplier.filter(F.col("s_suppkey") % 5 == 0).join(
        F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
    )
    stmts = finish_statements(
        vessels.select(
            F.concat(F.lit("s-"), F.col("s_suppkey")).alias("entity_id"),
            F.expr(
                "stack(3, "
                "'imoNumber', 'IMO' || lpad(cast(s_suppkey as string), 7, '0'), "
                "'name', s_name, "
                "'flag', n_name) as (prop, value)"
            ),
        ),
        dataset="maritime", schema_name="Vessel",
    )
    return maritime_export(assemble_entities(stmts))
