"""Exporter sinks (SURVEY §2.2): end-to-end export_all over a small entity
view, asserting counts + file presence — the Spark analogue of the
reference's ``zavod/zavod/tests/exporters/test_exporters.py:70-110``."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from opensanctions_spark.catalog.exporters import _export_entities
from opensanctions_spark.exporters import (
    export_all,
    ftm_entities,
    names_export,
    reverse_adjacency,
    statistics_facets_grouped,
)
from opensanctions_spark.model.melt import melt_customers


def test_export_all(spark, sf_dir, tmp_path):
    entities = _export_entities(spark, sf_dir)
    statements = melt_customers(spark.read.parquet(f"{sf_dir}/customer.parquet"))
    out = str(tmp_path / "export")
    counts = export_all(entities, statements, out, dataset="testdataset")

    n_entities = entities.count()
    assert counts["entities.ftm.json"] == n_entities
    assert counts["statements.csv"] == statements.count()
    # every customer + address entity has at least a name facet row;
    # export_all consolidates the view first (round 11: the reference's
    # consolidate_entity runs for every sink except raw statements), so
    # the fixture's ALL-CAPS alias duplicates collapse away
    from opensanctions_spark.operators.consolidate import consolidate_entities

    assert counts["names.txt"] == names_export(
        consolidate_entities(entities, statements)
    ).count()
    assert counts["maritime.csv"] == 0  # no Vessel entities in this view

    # K12 metadata parity: the exact fields the reference's exporter test
    # checks (zavod/zavod/tests/exporters/test_exporters.py:80-110)
    with open(os.path.join(out, "index.json")) as fh:
        index = json.load(fh)
    assert index["dataset"] == "testdataset"
    assert index["name"] == "testdataset"
    assert index["entity_count"] == n_entities
    assert sorted(index["row_counts"]) == sorted(counts)
    assert index["result"] == "success"
    assert {"version", "updated_at", "last_export", "issue_count",
            "issue_levels", "thing_count", "target_count", "last_change",
            "index_url", "issues_url", "statistics_url"} <= set(index)
    resource_names = {r["name"] for r in index["resources"]}
    for expected in ("entities.ftm.json", "targets.nested.json",
                     "targets.simple.csv", "senzing.json", "names.txt",
                     "statistics.json"):
        assert expected in resource_names
    for r in index["resources"]:
        assert {"name", "path", "url", "mime_type", "title"} <= set(r)

    with open(os.path.join(out, "resources.json")) as fh:
        resources = {r["name"] for r in json.load(fh)["resources"]}
    assert resource_names == resources

    with open(os.path.join(out, "statistics.json")) as fh:
        stats = json.load(fh)
    assert stats["entity_count"] == n_entities
    assert stats["target_count"] == index["target_count"]
    assert stats["targets"]["total"] == stats["target_count"]
    assert stats["things"]["total"] == index["thing_count"]
    assert sum(f["count"] for f in stats["things"]["schemata"]) == \
        stats["things"]["total"]
    assert {"schemata", "properties", "last_change"} <= set(stats)
    for f in stats["things"]["entities_with_prop"]:
        assert 0.0 < f["fill_rate"] <= 1.0

    # K1 JSON round-trips with the multi-valued property shape intact
    ftm = spark.read.json(os.path.join(out, "entities.ftm.json"))
    row = json.loads(ftm.orderBy("id").first()["entity"])
    assert set(row) >= {"id", "schema", "properties", "target"}


def test_ftm_entities_target_flag(spark, sf_dir):
    entities = _export_entities(spark, sf_dir)
    ftm = ftm_entities(entities)
    parsed = [json.loads(r["entity"]) for r in ftm.collect()]
    targets = [e for e in parsed if e["target"]]
    # targets iff topics ∩ RISKS ≠ ∅ (BUILDING→sanction, AUTOMOBILE→crime)
    for e in targets:
        assert set(e["properties"].get("topics", [])) & {"sanction", "crime"}


def test_statistics_total_consistency(spark, sf_dir):
    entities = _export_entities(spark, sf_dir)
    facets = statistics_facets_grouped(entities).collect()
    by = {}
    for r in facets:
        by.setdefault(r["facet"], {})[r["value"]] = r["n"]
    total = by["total"]["entities"]
    assert sum(by["schema"].values()) == total
    assert sum(by["target"].values()) == total


def test_grouped_facets_count_entities_not_country_rows(spark):
    # One entity with TWO countries: country facet counts rows, every
    # entity-level facet must still count one entity.
    entities = spark.createDataFrame(
        [
            ("e1", "Person", {"country": ["de", "fr"], "topics": ["sanction"]}),
            ("e2", "Company", {"country": [], "topics": []}),
        ],
        "canonical_id string, schema string, properties map<string,array<string>>",
    )
    by = {}
    for r in statistics_facets_grouped(entities).collect():
        by.setdefault(r["facet"], {})[r["value"]] = r["n"]
    assert by["country"] == {"de": 1, "fr": 1}
    assert by["schema"] == {"Person": 1, "Company": 1}
    assert by["target"] == {"true": 1, "false": 1}
    assert by["total"] == {"entities": 2}


def test_statistics_count_only_non_empty_properties(spark):
    """statistics.json counts an entity under a property only when the
    value array is non-empty: consolidation drops a letterless name, so
    the LegalEntity whose only name is "123" has no name left."""
    from opensanctions_spark.exporters.metadata import dataset_statistics
    from opensanctions_spark.operators.consolidate import consolidate_entities

    entities = spark.createDataFrame(
        [
            ("e1", "LegalEntity", {"name": ["123"], "country": ["de"]}),
            ("e2", "LegalEntity", {"name": ["Acme"]}),
        ],
        "canonical_id string, schema string, properties map<string,array<string>>",
    )
    stats = dataset_statistics(consolidate_entities(entities))
    by_prop = {
        f["property"]: (f["count"], f["fill_rate"])
        for f in stats["things"]["entities_with_prop"]
    }
    assert by_prop == {"name": (1, 0.5), "country": (1, 0.5)}
    assert stats["properties"] == ["LegalEntity:country", "LegalEntity:name"]

    only_letterless = consolidate_entities(entities.filter("canonical_id = 'e1'"))
    stats = dataset_statistics(only_letterless)
    assert stats["properties"] == ["LegalEntity:country"]
    assert [f["property"] for f in stats["things"]["entities_with_prop"]] == [
        "country"
    ]


def test_reverse_adjacency_inverts_forward(spark, sf_dir):
    entities = _export_entities(spark, sf_dir)
    rev = reverse_adjacency(entities, props=["addressEntity"])
    # every nation address entity is pointed at by >= 1 customer
    pointed = rev.filter(F.col("canonical_id").startswith("n-"))
    assert pointed.count() == entities.filter(
        F.col("canonical_id").startswith("c-")
    ).count()


def test_degenerate_entities_export_without_error(spark):
    """ANSI-mode regression: a matchable entity with NO name and a vessel
    with no name must export with null name columns, not fail the task
    (element_at on an empty array throws under ANSI)."""
    from opensanctions_spark.exporters import maritime_export, senzing_records

    entities = spark.createDataFrame(
        [
            ("e1", "Person", {"topics": ["crime"]}),
            ("v1", "Vessel", {"imoNumber": ["IMO 9074729"]}),
        ],
        "canonical_id string, schema string, properties map<string,array<string>>",
    )
    senzing = senzing_records(entities).collect()  # Person + Vessel both matchable
    assert [r["NAME_FULL"] for r in senzing] == [None, None]
    vessels = maritime_export(entities).collect()
    assert [r["vessel_name"] for r in vessels] == [None]


def test_tokenless_documents_score_null_quality(spark, tmp_path):
    """ANSI-mode regression: documents with zero tokens score null (and
    fail the quality gate) instead of raising DIVIDE_BY_ZERO."""
    from opensanctions_spark.catalog.text import text_quality

    docs = spark.createDataFrame(
        [(1, "...", "en", "s", 3), (2, "real words here", "en", "s", 15)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = {r["doc_id"]: r for r in text_quality(spark.sparkSession if hasattr(spark, "sparkSession") else spark, str(tmp_path)).collect()}
    assert rows[1]["quality"] is None and rows[1]["mean_token_len"] is None
    assert rows[2]["quality"] is not None


def test_write_catalog_rolls_up_dataset_indexes(spark, sf_dir, tmp_path):
    """catalog.json lists every member dataset's index and rolls up the
    counts (reference get_catalog_datasets + CATALOG_FILE)."""
    from opensanctions_spark.exporters.metadata import write_catalog

    entities = _export_entities(spark, sf_dir)
    statements = melt_customers(spark.read.parquet(f"{sf_dir}/customer.parquet"))
    d1 = str(tmp_path / "ds1")
    d2 = str(tmp_path / "ds2")
    export_all(entities, statements, d1, dataset="ds1")
    export_all(entities, statements, d2, dataset="ds2")
    d3 = str(tmp_path / "ds3")  # never exported
    os.makedirs(d3)

    catalog = write_catalog(str(tmp_path), [d1, d2, d3])
    assert os.path.exists(os.path.join(tmp_path, "catalog.json"))
    assert catalog["dataset_count"] == 3
    names = [d.get("name") for d in catalog["datasets"]]
    assert names == ["ds1", "ds2", "ds3"]
    n = entities.count()
    assert catalog["entity_count"] == 2 * n  # ds3 contributes nothing
    assert catalog["datasets"][2] == {"name": "ds3"}


def test_simple_csv_fused_matches_composition(spark, sf_dir):
    """The one-shuffle fused K3 must be row-identical to the general
    simple_csv(assemble_entities(...), adjacency) composition."""
    from opensanctions_spark.catalog.exporters import _export_statements
    from opensanctions_spark.exporters import simple_csv, simple_csv_fused
    from opensanctions_spark.operators.assembly import assemble_entities

    cust_stmts, addr_stmts = _export_statements(spark, sf_dir)
    addr_lookup = addr_stmts.filter(F.col("prop") == "full").select(
        F.col("canonical_id").alias("ref"), F.col("value").alias("addr")
    )
    fused = simple_csv_fused(cust_stmts, addr_lookup)

    # general composition: assemble, flat-project, join the adjacency
    entities = assemble_entities(cust_stmts)
    flat = simple_csv(entities, None).drop("addresses")
    refs = cust_stmts.filter(F.col("prop") == "addressEntity").select(
        F.col("canonical_id").alias("id"), F.col("value").alias("ref")
    )
    addresses = (
        refs.join(addr_lookup, "ref")
        .groupBy("id")
        .agg(F.array_join(F.array_sort(F.collect_set("addr")), ";").alias("addresses"))
    )
    general = flat.join(addresses, "id", "left").withColumn(
        "addresses", F.coalesce(F.col("addresses"), F.lit(""))
    )

    cols = sorted(fused.columns)
    assert cols == sorted(general.columns)
    a = sorted(map(tuple, fused.select(*cols).collect()))
    b = sorted(map(tuple, general.select(*cols).collect()))
    assert a == b


def test_simple_csv_fused_no_addresses(spark, sf_dir):
    from opensanctions_spark.catalog.exporters import _export_statements
    from opensanctions_spark.exporters import simple_csv_fused

    cust_stmts, _ = _export_statements(spark, sf_dir)
    rows = simple_csv_fused(cust_stmts, None).collect()
    assert rows and all(r["addresses"] == "" for r in rows)


def test_statistics_country_facet_is_thing_countries(spark):
    """K7/A2 parity (round 12): the country facet is the reference's
    ``thing_countries`` — DISTINCT values of every country-typed prop
    (nationality/jurisdiction/... included), counted per Thing-subtree
    entity only (``zavod/zavod/exporters/statistics.py:106-110``)."""
    entities = spark.createDataFrame(
        [
            ("e1", "Person", {"nationality": ["ru"], "citizenship": ["ru", "kz"]}),
            ("e2", "Company", {"jurisdiction": ["vg"], "country": ["vg"]}),
            ("e3", "Sanction", {"country": ["us"]}),
        ],
        "canonical_id string, schema string, properties map<string,array<string>>",
    )
    rows = {
        (r["facet"], r["value"]): r["n"]
        for r in statistics_facets_grouped(entities).collect()
    }
    assert rows[("country", "ru")] == 1      # distinct per entity
    assert rows[("country", "kz")] == 1
    assert rows[("country", "vg")] == 1      # country+jurisdiction dedupe
    assert ("country", "us") not in rows     # Sanction is not a Thing
    assert rows[("total", "entities")] == 3  # entity facets unaffected
    assert rows[("schema", "Sanction")] == 1
