"""K12: dataset metadata index with the reference's published field set.

The reference writes three metadata artifacts per export
(``zavod/zavod/exporters/metadata/__init__.py:30-163``,
``zavod/zavod/exporters/statistics.py:72-170``), which its own exporter
test pins field-by-field
(``zavod/zavod/tests/exporters/test_exporters.py:70-110``):

- ``index.json`` — name, entity/target/thing counts, last_change,
  issue_levels + issue_count, version + updated_at, the resource list
  (name/path/url/mime_type/title per artifact), index/issues/statistics
  (and optional delta) artifact URLs, last_export, result.
- ``resources.json`` — ``{"resources": [...]}`` with the same list.
- ``statistics.json`` — an aggregate OBJECT (not rows): entity_count,
  target_count, schemata, properties, ``targets``/``things`` blocks with
  per-country and per-schema facets, per-(schema, property) fill
  counts, sanctions program counts.

Spark shape: every facet comes out of ONE bounded aggregation over the
already-persisted entity view (``_facet_counts``: cardinality =
schemata × countries × properties, never row count), collected once;
the run's assertion check reads the same rows. Facet labels/captions
resolve through the engine's presentation registry
(``model/registry.py`` SCHEMA_LABELS / COUNTRY_CAPTIONS — the FtM-model
lookup of ``zavod/zavod/exporters/statistics.py:11-35``), falling back
to the raw code for unregistered values exactly like the reference's
registry.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from opensanctions_spark.logs import get_logger
from opensanctions_spark.model.registry import subtree_schemata

_log = get_logger(__name__)

#: schemata in the Thing subtree (reference: ``schema.is_a("Thing")``)
THING_SCHEMATA: list[str] = subtree_schemata("Thing")

#: artifact name → (mime type, human title) — mirrors each reference
#: exporter's FILE_NAME/MIME_TYPE/TITLE class attributes
RESOURCE_META: dict[str, tuple[str, str]] = {
    "entities.ftm.json": ("application/json+ftm", "FollowTheMoney entities"),
    "statements.csv": ("text/csv", "Statement-based data"),
    "targets.simple.csv": ("text/csv", "Targets as simplified CSV"),
    "targets.nested.json": ("application/json", "Targets as nested JSON"),
    "senzing.json": ("application/json+senzing", "Senzing entity format"),
    "names.txt": ("text/plain", "Target names text file"),
    "statistics.json": ("application/json", "Dataset statistics"),
    "maritime.csv": ("text/csv", "Maritime entities"),
    "securities.csv": ("text/csv", "Securities data"),
    "delta.json": ("application/json", "Delta entities"),
}


def _facet_list(
    rows: list[tuple[str, int]], key: str = "name"
) -> list[dict[str, Any]]:
    """Reference facet shape: descending count with display labels
    resolved through the engine's presentation registry — schema facets
    carry label+plural (``get_schema_facets``), country facets carry the
    caption (``get_country_facets``,
    ``zavod/zavod/exporters/statistics.py:11-35``); unknown codes fall
    back to the raw value like the reference's registry does."""
    from opensanctions_spark.model.registry import country_caption, schema_label

    out = []
    for value, count in sorted(rows, key=lambda r: (-r[1], r[0])):
        facet = {key: value, "count": count}
        if key == "name":
            facet["label"], facet["plural"] = schema_label(value)
        else:
            facet["label"] = country_caption(value)
        out.append(facet)
    return out


def _facet_counts(entities: DataFrame) -> DataFrame:
    """Every entity-statistics facet of one view in ONE aggregation.

    Each entity becomes an array of facet structs — one ``entity`` row
    keyed by schema, one ``country`` row per ``entity.countries`` value,
    one ``prop`` row per property with a NON-EMPTY value array, one
    ``program`` row per ``programId`` of a Sanction — exploded and
    counted by (kind, schema, key): ``n`` rows, ``n_target`` target
    rows, ``n_thing`` Thing-subtree rows and the latest ``last_change``
    (entity rows only). ``statistics.json`` and the run's assertion
    check both read these rows; the output is bounded by schemata ×
    countries × properties, never by row count."""
    from opensanctions_spark.exporters import (
        entity_countries,
        prop_values,
        target_flag,
    )

    props = F.col("properties")
    schema = F.col("schema")
    none = F.lit(None).cast("string")
    # the reference's entity.last_change; this engine carries it as the
    # per-entity last_seen rollup (A6), with the modifiedAt property as
    # the fallback for views without the timestamp columns
    changed = (
        F.col("last_seen")
        if "last_seen" in entities.columns
        else F.array_max(prop_values(props, "modifiedAt"))
    )

    def facet(kind: str, of_schema: Column, key: Column, last_change: Column = none):
        return F.struct(
            F.lit(kind).alias("kind"),
            of_schema.alias("schema"),
            key.alias("key"),
            last_change.alias("last_change"),
        )

    facets = F.concat(
        F.array(facet("entity", schema, none, changed)),
        # entity.countries — all country-typed props, distinct per
        # entity (statistics.py:109,119 iterates exactly this set for
        # both thing_countries and target_countries)
        F.transform(entity_countries(props), lambda c: facet("country", none, c)),
        F.transform(
            F.map_keys(F.map_filter(props, lambda k, v: F.size(v) > 0)),
            lambda p: facet("prop", schema, p),
        ),
        F.transform(
            F.when(schema == "Sanction", prop_values(props, "programId"))
            .otherwise(F.array().cast("array<string>")),
            lambda p: facet("program", none, p),
        ),
    )
    return (
        entities.select(
            target_flag(props).cast("long").alias("target"),
            schema.isin(THING_SCHEMATA).cast("long").alias("thing"),
            F.explode(facets).alias("f"),
        )
        .groupBy("f.kind", "f.schema", "f.key")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("target").alias("n_target"),
            F.sum("thing").alias("n_thing"),
            F.max("f.last_change").alias("last_change"),
        )
    )


def dataset_statistics(entities: DataFrame) -> dict[str, Any]:
    """The reference ``statistics.json`` object, computed distributed.

    One bounded aggregation over the entity view (:func:`_facet_counts`),
    collected once: per-schema entity/target/thing counts, per-country
    thing/target counts, per-(schema, property) entity counts and
    sanctions program counts."""
    rows: dict[str, list] = {"entity": [], "country": [], "prop": [], "program": []}
    for r in _facet_counts(entities).collect():
        rows[r["kind"]].append(r)
    by_schema, by_country = rows["entity"], rows["country"]
    schema_counts = {r["schema"]: r["n"] for r in by_schema}
    target_count = sum(r["n_target"] for r in by_schema)
    thing_count = sum(r["n_thing"] for r in by_schema)
    last_change = max(
        (r["last_change"] for r in by_schema if r["last_change"] is not None),
        default=None,
    )
    by_prop = sorted(rows["prop"], key=lambda r: (r["schema"], r["key"]))
    entities_with_prop = [
        {
            "schema": r["schema"],
            "property": r["key"],
            "count": r["n"],
            "total": schema_counts[r["schema"]],
            "fill_rate": r["n"] / schema_counts[r["schema"]],
        }
        for r in by_prop
    ]

    return {
        "last_change": last_change,
        "schemata": sorted(schema_counts),
        "properties": sorted(f"{r['schema']}:{r['key']}" for r in by_prop),
        "entity_count": sum(schema_counts.values()),
        "target_count": target_count,
        "targets": {
            "total": target_count,
            "countries": _facet_list(
                [(r["key"], r["n_target"]) for r in by_country if r["n_target"]],
                key="code",
            ),
            "schemata": _facet_list(
                [(r["schema"], r["n_target"]) for r in by_schema if r["n_target"]]
            ),
        },
        "sanctions": {
            "programs": [
                {"id": r["key"], "count": r["n"]}
                for r in sorted(rows["program"], key=lambda r: r["key"])
            ]
        },
        "things": {
            "total": thing_count,
            "countries": _facet_list(
                [(r["key"], r["n_thing"]) for r in by_country if r["n_thing"]],
                key="code",
            ),
            "schemata": _facet_list(
                [(r["schema"], r["n_thing"]) for r in by_schema if r["n_thing"]]
            ),
            "entities_with_prop": entities_with_prop,
        },
    }


def dataset_index(
    dataset: str,
    stats: dict[str, Any],
    resources: list[str],
    row_counts: dict[str, int],
    version: str,
    run_time: str,
    issue_levels: dict[str, int] | None = None,
    artifact_base: str = "artifacts:/",
    has_delta: bool = False,
    dataset_meta: dict[str, Any] | None = None,
) -> dict[str, Any]:
    """The reference ``index.json`` field set
    (``zavod/zavod/exporters/metadata/__init__.py:88-163``)."""

    def url(fname: str) -> str:
        return f"{artifact_base}/{dataset}/{version}/{fname}"

    res_datas = []
    for fname in sorted(resources):
        mime, title = RESOURCE_META.get(fname, ("application/octet-stream", fname))
        res_datas.append(
            {
                "name": fname,
                "path": fname,
                "url": url(fname),
                "mime_type": mime,
                "title": title,
            }
        )
    levels = dict(issue_levels or {})
    index: dict[str, Any] = {
        "name": dataset,
        "dataset": dataset,  # round-1 manifest key, kept for consumers
        "entity_count": stats["entity_count"],
        "target_count": stats["target_count"],
        "thing_count": stats["things"]["total"],
        "last_change": stats["last_change"] or run_time,
        "issue_levels": levels,
        "issue_count": sum(levels.values()),
        "updated_at": run_time,
        "version": version,
        "resources": res_datas,
        "row_counts": dict(sorted(row_counts.items())),
        "index_url": url("index.json"),
        "issues_url": url("issues.json"),
        "statistics_url": url("statistics.json"),
        "last_export": run_time,
        "result": "success",
    }
    if has_delta:
        index["delta_url"] = url("delta.json")
    # published dataset metadata (title/summary/publisher/url/tags/...)
    # overlays the computed block, like the reference's
    # dataset.to_opensanctions_dict merge — minus the redundant
    # hierarchy keys it pops (metadata/__init__.py:103-106)
    if dataset_meta:
        meta = {
            k: v
            for k, v in dataset_meta.items()
            if k not in ("externals", "sources", "collections")
        }
        index.update(meta)
    # ``resolve`` serializes ONLY when False (CatalogDatasetModel:
    # implicit default True, "only serialized when False") — a True
    # value coming in through dataset_meta is dropped
    if index.get("resolve") is True:
        index.pop("resolve")
    return index


#: Required fields of the published index — the dependency-free mirror
#: of the reference's CatalogDatasetModel output contract
#: (``zavod/zavod/exporters/metadata/model.py:76-120``): version /
#: updated_at / last_export tightened to required, each resource
#: carrying name==path, url and mime_type; the statistics-derived
#: counts required only for a SUCCESSFUL run (a failed run
#: legitimately drops its statistics).
_INDEX_REQUIRED = ("name", "version", "updated_at", "last_export", "resources")
_INDEX_REQUIRED_SUCCESS = ("entity_count", "target_count", "last_change")
_RESOURCE_REQUIRED = ("name", "path", "url", "mime_type")


def validate_index(index: dict[str, Any]) -> list[str]:
    """Validate a written index against the catalog output contract.
    Returns problem strings (empty = conforming). The caller WARNS and
    still writes — the reference's semantics
    (``metadata/__init__.py:150-160``): a metadata defect must never
    lose an otherwise-successful export."""
    problems: list[str] = []
    for f in _INDEX_REQUIRED:
        if f not in index:
            problems.append(f"missing required field: {f}")
    if index.get("result", "success") == "success":
        for f in _INDEX_REQUIRED_SUCCESS:
            if f not in index:
                problems.append(f"missing required field for success: {f}")
    for res in index.get("resources", []):
        for f in _RESOURCE_REQUIRED:
            if f not in res:
                problems.append(f"resource missing {f}: {res.get('name')}")
        if res.get("name") != res.get("path"):
            problems.append(
                f"resource name {res.get('name')!r} != path {res.get('path')!r}"
            )
    return problems


def write_metadata(
    out_dir: str,
    dataset: str,
    entities: DataFrame,
    row_counts: dict[str, int],
    version: str = "1",
    run_time: str = "1970-01-01T00:00:00",
    issue_levels: dict[str, int] | None = None,
    artifact_base: str = "artifacts:/",
    dataset_meta: dict[str, Any] | None = None,
) -> dict[str, Any]:
    """Write statistics.json, index.json and resources.json; returns the
    index dict."""
    stats = dataset_statistics(entities)
    with open(os.path.join(out_dir, "statistics.json"), "w") as fh:
        json.dump(stats, fh, indent=2, sort_keys=True)
    resources = sorted(set(row_counts) | {"statistics.json"})
    index = dataset_index(
        dataset,
        stats,
        resources,
        row_counts,
        version=version,
        run_time=run_time,
        issue_levels=issue_levels,
        artifact_base=artifact_base,
        has_delta="delta.json" in row_counts,
        dataset_meta=dataset_meta,
    )
    problems = validate_index(index)
    if problems:
        # warn-but-write: metadata defects never lose a successful
        # export (the reference logs "Dataset metadata does not conform
        # to the catalog model" and proceeds)
        _log.warning(
            "Dataset metadata does not conform to the catalog model",
            problems="; ".join(problems),
        )
    with open(os.path.join(out_dir, "index.json"), "w") as fh:
        json.dump(index, fh, indent=2, sort_keys=True)
    with open(os.path.join(out_dir, "resources.json"), "w") as fh:
        json.dump({"resources": index["resources"]}, fh, indent=2)
    return index


def write_catalog(
    out_root: str,
    dataset_dirs: list[str],
    run_time: str = "1970-01-01T00:00:00",
) -> dict[str, Any]:
    """Collection-level ``catalog.json``
    (``zavod/zavod/exporters/metadata/__init__.py:165-197`` +
    ``CATALOG_FILE``): one document listing every member dataset's
    latest published index — the file catalog consumers poll instead of
    crawling per-dataset paths. Datasets without an index yet surface
    with a bare name, matching the reference's pre-first-export
    behavior."""
    datasets: list[dict[str, Any]] = []
    for d in sorted(dataset_dirs):
        index_path = os.path.join(d, "index.json")
        if os.path.isfile(index_path):
            with open(index_path) as fh:
                datasets.append(json.load(fh))
        else:
            datasets.append({"name": os.path.basename(d.rstrip("/"))})
    catalog = {
        "datasets": datasets,
        "updated_at": run_time,
        "dataset_count": len(datasets),
        "entity_count": sum(
            d.get("entity_count", 0) for d in datasets
        ),
        "target_count": sum(
            d.get("target_count", 0) for d in datasets
        ),
    }
    with open(os.path.join(out_root, "catalog.json"), "w") as fh:
        json.dump(catalog, fh, indent=2, sort_keys=True)
    return catalog


def write_delta_index(
    out_dir: str,
    dataset: str,
    versions: list[str],
    max_versions: int = 100,
    artifact_base: str = "artifacts:/",
) -> dict[str, Any] | None:
    """``delta_index.json`` for a dataset
    (``zavod/zavod/exporters/metadata/__init__.py:200-256``): the delta
    versions available for download, newest first, as both the keyed map
    and the list form (``unstable.version_list``) the reference ships
    for tooling that cannot iterate object keys. Returns None (and
    writes nothing) when no delta versions exist, like the reference."""
    newest_first = list(reversed(versions))[:max_versions]
    version_map = {
        v: f"{artifact_base}/{dataset}/{v}/delta.json" for v in newest_first
    }
    if not version_map:
        return None
    data = {
        "versions": version_map,
        "unstable": {
            "version_list": [
                {"version": v, "url": u} for v, u in version_map.items()
            ]
        },
    }
    with open(os.path.join(out_dir, "delta_index.json"), "w") as fh:
        # no sort_keys: the keyed map must stay newest-first on disk like
        # the reference's orjson write (consumers read the first key as
        # "the latest delta")
        json.dump(data, fh, indent=2)
    return data


def write_issues(out_dir: str, issues: list[dict[str, Any]]) -> dict[str, int]:
    """``issues.json`` (``zavod/zavod/runtime/issues.py:100-107``:
    ``{"issues": [...]}``) + the by-level counts the index embeds."""
    with open(os.path.join(out_dir, "issues.json"), "w") as fh:
        json.dump({"issues": issues}, fh, indent=2, sort_keys=True)
    levels: dict[str, int] = {}
    for issue in issues:
        level = issue.get("level")
        if level is not None:
            levels[level] = levels.get(level, 0) + 1
    return levels
