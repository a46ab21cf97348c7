"""The dataset run: crawl output → statements → entities → exports.

Mirrors ``zavod run`` (``zavod/zavod/cli/etl.py:95-154``): the fused run
is the crawl → validate → export stages back to back, and here both the
fused ``run_dataset`` and the staged verbs are built from the same four
steps, each implemented once:

- **stamp** (``_stamp``): datapatch lookups, ``last_seen``, the resolver
  rekey (J2, fused run only), then ``first_seen`` propagated from the
  last SUCCESSFUL version (J1, ``zavod/zavod/runtime/timestamps.py``);
- **entity view** (``_entity_view``): read one archived version back and
  assemble it (A1) — persisted once for every consumer;
- **check** (``_check``): the one facet aggregation ``statistics.json``
  is built from, over the raw view, for every assertion metric
  (entity/target/schema, country, property fill), and the threshold
  checks with fatal-min semantics (A12,
  ``zavod/zavod/validators/assertions.py:24-183``);
- **delta** (``_delta``): ADD/MOD/DEL vs a previous version (D0/D1),
  ``delta.json`` and ``delta_index.json``.

Which verb runs which step:

- ``crawl_dataset``: stamp → version write;
- ``validate_dataset``: entity view → check → dangling references;
- ``export_dataset``: entity view → sinks → delta;
- ``run_dataset``: stamp → pending write → entity view → check (abort
  on error) → dangling references → sinks → delta → promote.

The dangling-reference anti-join (J10,
``zavod/zavod/validators/__init__.py:15-27``) and every exporter off the
shared scan (§2.2) complete the run. The reference does store-sync into
LevelDB between crawl and export; on Spark that whole stage *is* the
assembly shuffle — there is no separate materialization.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from opensanctions_spark.exporters import export_all, prop_values
from opensanctions_spark.model.registry import ENTITY_PROPS
from opensanctions_spark.operators.assembly import assemble_entities
from opensanctions_spark.operators.delta import hashed_entities, version_diff
from opensanctions_spark.operators.timestamps import propagate_first_seen
from opensanctions_spark.sources.archive import StatementArchive


#: Comparison → violation level: only min failures abort, max failures
#: warn (``validators/assertions.py is_assertion_fatal``).
_LEVELS = {"min": "error", "max": "warning"}


@dataclass
class Assertion:
    metric: str          # e.g. "entity_count", "schema:Person", "country:de",
                         # "countries", "prop:Company.name", "fill:Person.name"
    op: str              # "min" | "max"
    threshold: float     # int for counts, float for fill rates
    level: str = "error"  # "error" (fatal) | "warning"

    @classmethod
    def parse(cls, spec: str) -> "Assertion":
        """``METRIC:OP:N`` (the CLI ``--assert`` and legacy config string
        form) → an Assertion; the threshold may be fractional and the
        level follows the op like ``parse_assertions``. An op other than
        min/max raises ValueError."""
        metric, op, raw = spec.rsplit(":", 2)
        if op not in _LEVELS:
            raise ValueError(f"Unknown assertion: {op}")
        try:
            threshold: float = int(raw)
        except ValueError:
            threshold = float(raw)
        return cls(metric, op, threshold, _LEVELS[op])


#: Baseline assertions merged into every dict-form dataset config, leaf-
#: overridable by the dataset's own block (the reference's
#: DEFAULT_ASSERTIONS, ``zavod/zavod/meta/dataset.py:40-53``).
#: ``property_fill_rate`` only applies to schemata the dataset actually
#: emits — check_assertions skips absent schemata.
DEFAULT_ASSERTIONS: dict = {
    "min": {
        "property_fill_rate": {
            "Person": {"name": 0.95},
            "LegalEntity": {"name": 0.95},
            "Organization": {"name": 0.95},
            "Company": {"name": 0.95},
        }
    }
}

#: Reference metric vocabulary (``zavod/zavod/meta/assertion.py``) → the
#: flat metric-string families check_assertions evaluates.
_ASSERTION_METRICS = {
    "entity_count", "schema_entities", "country_entities", "countries",
    "entities_with_prop", "property_fill_rate",
}


def merge_assertions_config(base: dict, override: dict) -> dict:
    """Deep-merge two assertion config dicts, override winning at the
    leaf (``zavod/zavod/meta/assertion.py merge_assertions_config``)."""
    from copy import deepcopy

    result = deepcopy(base)
    for key, value in override.items():
        existing = result.get(key)
        if isinstance(existing, dict) and isinstance(value, dict):
            result[key] = merge_assertions_config(existing, value)
        else:
            result[key] = deepcopy(value)
    return result


def parse_assertions(config: dict) -> list[Assertion]:
    """Reference YAML assertion block → flat Assertion rows
    (``zavod/zavod/meta/assertion.py parse_assertions`` + the
    validator's level rule, ``_LEVELS``). Unknown comparisons or metrics
    raise ValueError, like the reference's Enum lookups."""
    out: list[Assertion] = []
    for key, metrics in config.items():
        if key not in _LEVELS:
            raise ValueError(f"Unknown assertion: {key}")
        level = _LEVELS[key]
        for metric, mconf in metrics.items():
            if metric not in _ASSERTION_METRICS:
                raise ValueError(f"Unknown metric: {metric}")
            if metric == "entity_count":
                out.append(Assertion("entity_count", key, mconf, level))
            elif metric == "countries":
                out.append(Assertion("countries", key, mconf, level))
            elif metric == "schema_entities":
                for schema, t in mconf.items():
                    out.append(Assertion(f"schema:{schema}", key, t, level))
            elif metric == "country_entities":
                for country, t in mconf.items():
                    out.append(Assertion(f"country:{country}", key, t, level))
            elif metric == "entities_with_prop":
                for schema, props in mconf.items():
                    for prop, t in props.items():
                        out.append(
                            Assertion(f"prop:{schema}.{prop}", key, t, level)
                        )
            elif metric == "property_fill_rate":
                for schema, props in mconf.items():
                    for prop, t in props.items():
                        out.append(
                            Assertion(f"fill:{schema}.{prop}", key, t, level)
                        )
    return out


@dataclass
class DatasetConfig:
    """Dataset run configuration — the ``zavod`` dataset YAML analogue
    (``zavod/zavod/meta/model.py`` + ``dataset.py:184-202``): ``name``
    and assertion thresholds drive the run; everything else
    (title/summary/publisher/url/tags/coverage/type/hidden/...) is
    published metadata that flows verbatim into ``index.json``."""

    name: str
    assertions: list[Assertion] = field(default_factory=list)
    #: False when the dataset's own config declared no assertions (the
    #: baseline defaults may still be merged in) — drives the
    #: reference's "Dataset has no assertions." nudge, which is logged
    #: as an error-level issue but never aborts
    #: (``validators/assertions.py:166-177``).
    has_user_assertions: bool = True
    metadata: dict = field(default_factory=dict)
    #: datapatch lookup tables (``lookups:`` in the dataset YAML —
    #: ``zavod/zavod/meta/dataset.py:117-120``); ``prop.<name>`` lookups
    #: are applied as a cleaning pass before the archive write
    lookups: dict = field(default_factory=dict)

    @classmethod
    def from_dict(cls, data: dict) -> "DatasetConfig":
        data = dict(data)
        name = data.pop("name")
        raw = data.pop("assertions", None)
        has_user = True
        if isinstance(raw, dict) or raw is None:
            # the reference's YAML shape: {min: {...}, max: {...}} —
            # baseline defaults merge in, leaf-overridable; an absent
            # or empty block sets the nudge flag
            user = raw or {}
            has_user = bool(parse_assertions(user))
            assertions = parse_assertions(
                merge_assertions_config(DEFAULT_ASSERTIONS, user)
            )
        else:
            # legacy flat list form ("metric:op:threshold" strings or
            # Assertion kwarg dicts) — used as given, no defaults
            assertions = [
                Assertion.parse(a) if isinstance(a, str) else Assertion(**a)
                for a in raw
            ]
        lookups = {}
        if "lookups" in data:
            from opensanctions_spark.functions.lookups import load_lookups

            lookups = load_lookups({"lookups": data.pop("lookups")})
        return cls(name=name, assertions=assertions,
                   has_user_assertions=has_user, metadata=data,
                   lookups=lookups)

    @classmethod
    def from_file(cls, path: str) -> "DatasetConfig":
        """Load a dataset config file: JSON always; YAML when the yaml
        package is importable (the reference's configs are YAML — JSON
        is the dependency-free interchange form)."""
        with open(path) as fh:
            text = fh.read()
        try:
            data = json.loads(text)
        except json.JSONDecodeError:
            try:
                import yaml  # type: ignore[import-not-found]
            except ImportError as exc:
                raise ValueError(
                    f"{path} is not JSON and pyyaml is unavailable"
                ) from exc
            data = yaml.safe_load(text)
        return cls.from_dict(data)


@dataclass
class RunResult:
    dataset: str
    version: str
    entity_count: int
    statement_count: int
    target_count: int
    schema_counts: dict[str, int]
    delta_ops: dict[str, int]
    dangling_count: int
    violations: list[str]
    export_counts: dict[str, int]


def dangling_references(entities: DataFrame) -> DataFrame:
    """Referenced entity ids that are not present in the view (J10)."""
    props = list(ENTITY_PROPS)
    refs = entities.select(
        F.explode(
            F.flatten(F.array(*[prop_values(F.col("properties"), p) for p in props]))
        ).alias("ref")
    ).distinct()
    return refs.join(
        entities.select(F.col("canonical_id").alias("ref")), "ref", "left_anti"
    )


def check_assertions(stats: dict[str, float], assertions: list[Assertion]) -> list[str]:
    """Threshold checks over aggregate stats; returns violation messages.
    ``min`` failures are fatal in the reference (the caller raises).
    ``fill:`` assertions skip schemata the dataset does not emit — the
    reference's emitted-schemata guard (``validators/assertions.py:
    129-140``): a fill-rate rule on an absent schema must not fail as
    0.0."""
    out = []
    for a in assertions:
        missing = 0
        if a.metric.startswith("fill:"):
            schema = a.metric[5:].split(".", 1)[0]
            if not stats.get(f"schema:{schema}"):
                continue
            missing = 0.0  # a present schema without the property
        actual = stats.get(a.metric, missing)
        if a.op == "min" and actual < a.threshold:
            out.append(f"{a.level}: {a.metric}={actual} < min {a.threshold}")
        elif a.op == "max" and actual > a.threshold:
            out.append(f"{a.level}: {a.metric}={actual} > max {a.threshold}")
    return out


def _stamp(
    statements: DataFrame,
    name: str,
    archive: StatementArchive,
    run_time: str,
    lookups: dict | None = None,
    canonical_map: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame | None, str | None, bool]:
    """The stamp step: datapatch cleaning, seen-timestamps, the resolver
    rekey, then first_seen from the previous version (J1). Returns
    ``(statements, prev, map_fp, resolver_dropped)``: ``prev`` is the
    previous version's statements (None on a first run), ``map_fp`` the
    fingerprint of ``canonical_map`` and ``resolver_dropped`` whether
    ``prev`` stores resolver-merged ids this mapless run cannot unmerge.

    "previous" = the last SUCCESSFUL version — the one ``archive.read``
    falls back to; a version written by a run that later failed
    validation must not feed timestamps or deltas. The read includes
    EXTERNAL statements: an internal-only index would drop their ids and
    reset their first_seen on every analyzer/enricher re-run."""
    prev_version = archive.last_successful(name)
    prev = (
        archive.read(name, version=prev_version, external=True)
        if prev_version else None
    )
    # datapatch cleaning: the dataset's prop.* lookup tables rewrite
    # values before anything downstream sees them (the reference cleans at
    # emit time — zavod/zavod/runtime/lookups.py:52-83); map-only stage
    if lookups:
        from opensanctions_spark.functions.lookups import apply_statement_lookups

        statements = apply_statement_lookups(statements, lookups)
    statements = statements.drop("first_seen").withColumn(
        "last_seen", F.lit(run_time)
    )

    # resolver rekey (J2) BEFORE the versioned write. The reference's
    # linker applies to every store access (zavod/zavod/store.py:36-47);
    # rekeying the incoming statements up front means the stored version
    # is already canonical, so (a) the bucketed layout clusters on the
    # FINAL canonical_id and the assembly/delta ride it exchange-free,
    # and (b) no read-time rekey is needed for the current version. The
    # previous version is normalized to the CURRENT map too — unless the
    # manifest proves it was written under the identical map (the
    # fingerprint fast path), in which case its stored canonical ids and
    # bucket clustering are consumed as-is. The round-11 rehearsal bug
    # (prev diffed raw → spurious DEL per merged id) stays fixed: prev
    # is always map-consistent with the current side here.
    map_fp = None
    resolver_dropped = False
    if canonical_map is not None:
        from opensanctions_spark.operators.resolve import (
            apply_canonical,
            mapping_fingerprint,
        )

        map_fp = mapping_fingerprint(canonical_map)
        statements = apply_canonical(statements, canonical_map)
        if prev is not None and archive.canonical_fp(name, prev_version) != map_fp:
            prev = apply_canonical(prev, canonical_map)
    elif prev is not None and archive.canonical_fp(name, prev_version) is not None:
        # J1 (id-keyed) is unaffected, but the delta will diff merged ids
        # against raw ones — the caller surfaces it
        resolver_dropped = True

    if prev is None:
        statements = statements.withColumn("first_seen", F.lit(run_time))
    else:
        # with a resolver map both sides are canonical-consistent, so the
        # J1 probe keys on (canonical_id, id) rows — the prev side rides
        # the bucketed clustering with zero exchange and the current side
        # pays the single canonical_id exchange the write and assembly
        # want anyway. Mapless runs keep the id-keyed join (caller-set
        # canonical ids need not match across versions).
        statements = propagate_first_seen(
            statements,
            prev.select("canonical_id", "id", "first_seen"),
            run_time=run_time,
            cluster_col="canonical_id" if canonical_map is not None else None,
        )
    return statements, prev, map_fp, resolver_dropped


def _entity_view(
    archive: StatementArchive, name: str, version: str | None
) -> tuple[DataFrame, DataFrame, bool]:
    """The entity-view step: one archived version read back (a single
    lineage for every consumer) and assembled (A1), persisted for the
    validators and sinks. Returns ``(statements, entities,
    pre_clustered)``: with bucketed statement storage the scan is already
    clustered on canonical_id (the rekey happened before the write, so
    the stored clustering IS the final one) and the assembly runs
    exchange-free."""
    statements = archive.read(name, version=version, external=True)
    pre_clustered = archive.is_bucketed(name, version)
    entities = assemble_entities(statements, pre_clustered=pre_clustered).persist()
    return statements, entities, pre_clustered


def _check(
    entities: DataFrame, assertions: list[Assertion]
) -> tuple[int, int, dict[str, int], list[str]]:
    """The check step: ``(entity_count, target_count, schema_counts,
    violations)``. Every metric comes out of the one facet aggregation
    ``statistics.json`` is built from (``exporters.metadata.
    _facet_counts``), here over the raw entity view — the reference's
    validators share one scan the same way
    (``zavod/zavod/validators/__init__.py:72-104``):

    - ``entity_count`` / ``target_count`` / ``schema:<S>``;
    - ``country:<code>`` / ``countries``: ``entity.countries`` of
      Thing-subtree entities only
      (``zavod/zavod/exporters/statistics.py:106-110``), so a dataset
      whose country signal lives in nationality does not undercount;
    - ``prop:<S>.<p>`` / ``fill:<S>.<p>``: entities of schema S with a
      non-empty p, as a count and as a share of S."""
    from opensanctions_spark.exporters.metadata import _facet_counts

    rows = _facet_counts(entities).collect()
    by_schema = [r for r in rows if r["kind"] == "entity"]
    schema_counts = {r["schema"]: r["n"] for r in by_schema}
    countries = {
        r["key"]: r["n_thing"]
        for r in rows
        if r["kind"] == "country" and r["n_thing"]
    }
    entity_count = sum(schema_counts.values())
    target_count = sum(r["n_target"] for r in by_schema)
    stats: dict[str, float] = {
        "entity_count": entity_count,
        "target_count": target_count,
        "countries": len(countries),
        **{f"schema:{k}": v for k, v in schema_counts.items()},
        **{f"country:{k}": v for k, v in countries.items()},
    }
    for r in rows:
        if r["kind"] == "prop":
            pair = f"{r['schema']}.{r['key']}"
            stats[f"prop:{pair}"] = r["n"]
            stats[f"fill:{pair}"] = r["n"] / schema_counts[r["schema"]]
    violations = check_assertions(stats, assertions)
    return entity_count, target_count, schema_counts, violations


def _delta_artifact_nonempty(path: str) -> bool:
    """True when a delta.json artifact exists and carries data — the
    reference checks object presence AND size > 0 before listing a version
    in the delta index (``zavod/zavod/exporters/metadata/__init__.py:
    210-229``). Spark text sinks are directories of part files; a plain
    file (post-publish single_file copy) also counts."""
    if os.path.isfile(path):
        return os.path.getsize(path) > 0
    if os.path.isdir(path):
        return any(
            n.startswith("part-") and os.path.getsize(os.path.join(path, n)) > 0
            for n in os.listdir(path)
        )
    return False


def _delta(
    archive: StatementArchive,
    name: str,
    version: str,
    prev: DataFrame | None,
    statements: DataFrame,
    entities: DataFrame,
    out_dir: str,
    single_file: bool,
) -> dict[str, int]:
    """The delta step: ADD/MOD/DEL of ``version`` against ``prev`` (D0/D1)
    written as ``delta.json``, plus the ``delta_index.json`` listing it.
    Returns the per-op counts; a first version (``prev`` None) writes
    neither file."""
    if prev is None:
        return {}
    from opensanctions_spark.exporters.metadata import write_delta_index
    from opensanctions_spark.operators.delta import delta_export_rows

    diff = version_diff(hashed_entities(prev), hashed_entities(statements))
    delta_ops = {
        r["op"]: r["n"]
        for r in diff.groupBy("op").agg(F.count("*").alias("n")).collect()
    }
    # reference line format: {"op": ..., "entity": {...}} per row
    # (zavod/zavod/exporters/delta.py:29-38)
    delta_out = delta_export_rows(diff, entities).orderBy("canonical_id")
    if single_file:
        delta_out = delta_out.coalesce(1)
    delta_out.select("line").write.mode("overwrite").text(
        os.path.join(out_dir, "delta.json")
    )
    # K8/K12: the delta-versions index. The reference
    # (``zavod/zavod/exporters/metadata/__init__.py:200-256``,
    # include_latest=True) lists the just-written version FIRST — its
    # delta.json ships alongside the index even though the version is
    # still pending promotion — and then only prior versions whose delta
    # artifact actually exists and is non-empty, so the index never
    # points at missing files.
    indexable = [
        v for v in archive.successful_versions(name)
        if v != version
        and _delta_artifact_nonempty(
            os.path.join(
                os.path.dirname(archive.version_path(name, v)), "delta.json"
            )
        )
    ]
    if _delta_artifact_nonempty(os.path.join(out_dir, "delta.json")):
        indexable.append(version)
    write_delta_index(out_dir, name, indexable)
    return delta_ops


def run_dataset(
    spark: SparkSession,
    statements: DataFrame,
    config: DatasetConfig,
    archive: StatementArchive,
    out_dir: str,
    run_time: str,
    version: str | None = None,
    canonical_map: DataFrame | None = None,
    single_file: bool = True,
) -> RunResult:
    """Execute the full pipeline for one dataset run.

    ``canonical_map`` is the resolver's (entity_id, canonical_id)
    snapshot; when given, statements are rekeyed through it (J2,
    broadcast) before assembly — the reference applies its linker the
    same way, at store-read time (``zavod/zavod/store.py:36-47``), so
    merged entities collapse into one canonical group in A1."""
    name = config.name
    statements, prev, map_fp, resolver_dropped = _stamp(
        statements, name, archive, run_time, config.lookups, canonical_map
    )
    # Written PENDING (success=False): the version is recorded and
    # debuggable, but the backfill pointer only advances once the whole
    # run — validation included — completes (mark_successful below), so a
    # fatal-assertion abort can never poison the next run's backfill.
    version = archive.write(
        statements, name, version, success=False, canonical_fp=map_fp
    )
    statements, entities, pre_clustered = _entity_view(archive, name, version)
    entity_count, target_count, schema_counts, violations = _check(
        entities, config.assertions
    )
    if any(v.startswith("error") for v in violations):
        entities.unpersist()
        raise AssertionError("; ".join(violations))
    dangling = dangling_references(entities).count()

    # issues.json + by-level counts for the index (the reference's
    # DatasetIssues artifact: validation findings become issue records)
    from opensanctions_spark.exporters.metadata import write_issues

    findings = [(v.split(":", 1)[0], v.split(": ", 1)[-1]) for v in violations]
    if not config.has_user_assertions:
        # the reference's maintainer nudge: error-LEVEL log, but never
        # an abort (validators/assertions.py:166-177 sets no abort flag
        # for it) — so it rides the issues channel, not the violations
        findings.append(("error", "Dataset has no assertions."))
    if dangling:
        findings.append(("warning", f"{dangling} dangling entity references"))
    if resolver_dropped:
        findings.append((
            "warning",
            "previous version was written under a resolver map but this run"
            " has none: the delta may report merged ids as ADD/DEL pairs",
        ))
    issues = [
        {"level": level, "message": message, "dataset": name}
        for level, message in findings
    ]
    os.makedirs(out_dir, exist_ok=True)
    issue_levels = write_issues(out_dir, issues)

    # shared-scan sinks (single_file=False is the cluster path —
    # range-ordered multi-part sink files, see exporters.export_all)
    export_counts = export_all(
        entities, statements, out_dir, dataset=name,
        single_file=single_file, clustered=pre_clustered,
        version=str(version), run_time=run_time,
        issue_levels=issue_levels, dataset_meta=config.metadata,
    )
    delta_ops = _delta(
        archive, name, version, prev, statements, entities, out_dir, single_file
    )

    result = RunResult(
        dataset=name,
        version=version,
        entity_count=entity_count,
        statement_count=export_counts.get("statements.csv", 0),
        target_count=target_count,
        schema_counts=schema_counts,
        delta_ops=delta_ops,
        dangling_count=dangling,
        violations=violations,
        export_counts=export_counts,
    )
    with open(os.path.join(out_dir, "run.json"), "w") as fh:
        json.dump(result.__dict__, fh, indent=2, sort_keys=True)
    # the run completed (exports + validation): promote the version so
    # backfill reads resolve it
    archive.mark_successful(name, version)
    entities.unpersist()
    return result


def crawl_dataset(
    spark: SparkSession,
    statements: DataFrame,
    name: str,
    archive: StatementArchive,
    run_time: str,
    version: str | None = None,
    lookups: dict | None = None,
) -> str:
    """The standalone crawl stage (``zavod crawl``,
    ``zavod/zavod/cli/etl.py:24-36``): the stamp step, then ONE immutable
    archive version. Returns the version id — validation/export read it
    back, so re-running either never re-crawls. ``lookups`` applies the
    dataset's datapatch cleaning pass first, like the fused run."""
    statements = _stamp(statements, name, archive, run_time, lookups)[0]
    return archive.write(statements, name, version)


def validate_dataset(
    spark: SparkSession,
    archive: StatementArchive,
    name: str,
    assertions: list[Assertion] | None = None,
    version: str | None = None,
) -> dict:
    """The standalone validate stage (``zavod validate``,
    ``zavod/zavod/cli/etl.py:38-55``): the entity view of one archived
    version (default: the last successful) and the check step, WITHOUT
    exporting. Returns the validation manifest."""
    version = version or archive.last_successful(name)
    _, entities, _ = _entity_view(archive, name, version)
    entity_count, target_count, schema_counts, violations = _check(
        entities, assertions or []
    )
    dangling = dangling_references(entities).count()
    entities.unpersist()
    return {
        "dataset": name,
        "version": version,
        "entity_count": entity_count,
        "target_count": target_count,
        "schema_counts": schema_counts,
        "dangling_count": dangling,
        "violations": violations,
    }


def export_dataset(
    spark: SparkSession,
    archive: StatementArchive,
    name: str,
    out_dir: str,
    run_time: str,
    version: str | None = None,
    single_file: bool = True,
    dataset_meta: dict | None = None,
) -> dict:
    """The standalone export stage (``zavod export``,
    ``zavod/zavod/cli/etl.py:57-73``): the entity view of one archived
    version, every sink + the K12 metadata set, and the delta step
    against the previous SUCCESSFUL version.

    ``version=None`` exports the newest RECORDED version — deliberately
    the working-directory semantics of ``zavod export`` (crawl → export
    runs before promotion, so the version being exported is typically
    still pending); published-only reads go through ``archive.read`` /
    ``--as-of``."""
    version = version or archive.latest(name)
    if version is None:
        raise ValueError(f"no archived versions for dataset {name!r}")
    statements, entities, pre_clustered = _entity_view(archive, name, version)
    export_counts = export_all(
        entities, statements, out_dir, dataset=name,
        single_file=single_file, clustered=pre_clustered,
        version=str(version), run_time=run_time,
        dataset_meta=dataset_meta,
    )
    # delta baseline = the newest SUCCESSFUL version strictly before the
    # exported one (a failed run's statements must never anchor the
    # published ADD/MOD/DEL), restricted to versions whose files are
    # guaranteed on disk (retention window + the gc-protected pointer)
    readable = set(archive.versions(name))
    last_ok = archive.last_successful(name)
    if last_ok is not None:
        readable.add(last_ok)
    priors = [
        v for v in archive.successful_versions(name)
        if v < version and v in readable
    ]
    prev = (
        archive.read(name, version=priors[-1], external=True) if priors else None
    )
    delta_ops = _delta(
        archive, name, version, prev, statements, entities, out_dir, single_file
    )
    entities.unpersist()
    return {
        "dataset": name,
        "version": version,
        "export_counts": export_counts,
        "delta_ops": delta_ops,
    }
