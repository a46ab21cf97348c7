"""Ported reference suites: ``zavod/zavod/tests/test_assertions.py`` +
``zavod/zavod/tests/test_validate.py`` (round-11 closure campaign).

These ports exposed a real surface gap, fixed this round: the engine's
assertion model only knew ``entity_count`` / ``schema:X`` metrics —
the reference's ``country_entities`` / ``countries`` /
``entities_with_prop`` / ``property_fill_rate`` families, the baseline
DEFAULT_ASSERTIONS merged into every source dataset, the
"Dataset has no assertions." nudge, and the min-aborts/max-warns level
rule were all unimplemented. Dangling/self-reference validator cases
are covered by the engine's e2e suite (``test_pipeline_e2e.py``,
``tests/test_graph_ops.py`` J10/J11)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from opensanctions_spark.plans.run import (
    Assertion,
    DatasetConfig,
    _check,
    check_assertions,
    merge_assertions_config,
    parse_assertions,
)

CONFIG = {
    "min": {
        "schema_entities": {"Person": 1},
        "entities_with_prop": {"Person": {"name": 1}},
    },
    "max": {"countries": 1},
}


def test_parse_assertions_reference_cases():
    """The reference's test_parse_assertions, over the flat-metric
    translation: min → GTE/error, max → LTE/warning, unknown metric
    raises."""
    assertions = parse_assertions(CONFIG)
    assert assertions[0] == Assertion("schema:Person", "min", 1, "error")
    assert assertions[1] == Assertion("prop:Person.name", "min", 1, "error")
    assert assertions[2] == Assertion("countries", "max", 1, "warning")

    bad = {"min": {"foo": {"Person": 1}}}
    with pytest.raises(ValueError):
        parse_assertions(bad)
    with pytest.raises(ValueError):
        parse_assertions({"typo": {"countries": 1}})


def test_assertion_parse_spec_strings():
    """The ``METRIC:OP:N`` form (CLI ``--assert``, legacy config lists):
    fractional thresholds parse, the level follows the op like
    parse_assertions, and an unknown op is refused rather than never
    checked."""
    assert Assertion.parse("entity_count:min:10") == Assertion(
        "entity_count", "min", 10, "error"
    )
    assert Assertion.parse("fill:Person.name:min:0.5") == Assertion(
        "fill:Person.name", "min", 0.5, "error"
    )
    # a max failure warns and never aborts
    over = Assertion.parse("schema:Person:max:3")
    assert over.level == "warning"
    assert check_assertions({"schema:Person": 5}, [over]) == [
        "warning: schema:Person=5 > max 3"
    ]
    with pytest.raises(ValueError):
        Assertion.parse("entity_count:gte:5")
    legacy = DatasetConfig.from_dict(
        {"name": "ds", "assertions": ["countries:max:2"]}
    )
    assert legacy.assertions == [Assertion("countries", "max", 2, "warning")]


def test_cli_assert_spec_errors_are_usage_errors(tmp_path):
    """A bad ``--assert`` spec stops the CLI at argument parsing (exit 2),
    before any Spark work."""
    from opensanctions_spark.__main__ import main

    with pytest.raises(SystemExit) as exc:
        main(["validate", "--dataset", "ds", "--archive", str(tmp_path),
              "--assert", "entity_count:gte:5"])
    assert exc.value.code == 2


def test_merge_assertions_config_leaf_override():
    base = {"min": {"property_fill_rate": {"Person": {"name": 0.95}}}}
    override = {"min": {"property_fill_rate": {"Person": {"name": 0.5}},
                        "countries": 2}}
    merged = merge_assertions_config(base, override)
    assert merged["min"]["property_fill_rate"]["Person"]["name"] == 0.5
    assert merged["min"]["countries"] == 2
    # base is untouched
    assert base["min"]["property_fill_rate"]["Person"]["name"] == 0.95


def test_from_dict_defaults_and_nudge():
    """A dict-form config with no assertions gets the baseline defaults
    merged in (the reference's DEFAULT_ASSERTIONS) and the nudge flag;
    explicit assertions clear the flag and override at the leaf."""
    bare = DatasetConfig.from_dict({"name": "t"})
    assert not bare.has_user_assertions
    assert Assertion("fill:Person.name", "min", 0.95, "error") in bare.assertions

    configured = DatasetConfig.from_dict(
        {
            "name": "t2",
            "assertions": {
                "min": {"property_fill_rate": {"Person": {"name": 0.5}},
                        "countries": 7},
            },
        }
    )
    assert configured.has_user_assertions
    assert Assertion("fill:Person.name", "min", 0.5, "error") in configured.assertions
    assert Assertion("countries", "min", 7, "error") in configured.assertions
    # defaults still merged for un-overridden leaves
    assert Assertion("fill:Company.name", "min", 0.95, "error") in configured.assertions


def _entities(spark, rows):
    """(canonical_id, schema, {prop: [values]}) → entity view frame."""
    return spark.createDataFrame(
        [(i, s, p) for i, s, p in rows],
        "canonical_id string, schema string, properties map<string,array<string>>",
    )


def test_extended_stats_and_check(spark):
    """The reference's test_assertions scenario shape: country counts,
    distinct-country count, entities_with_prop and fill rates — min
    failures are errors, max failures are warnings."""
    entities = _entities(
        spark,
        [
            ("e1", "Company", {"name": ["A"], "country": ["de"]}),
            ("e2", "Company", {"name": ["B"], "country": ["de", "fr"]}),
            ("e3", "Company", {"country": ["us"]}),
            ("e4", "Person", {"name": ["C"]}),
        ],
    )
    assertions = parse_assertions(
        {
            "min": {
                "schema_entities": {"Company": 10},
                "country_entities": {"de": 3},
                "countries": 7,
                "entities_with_prop": {"Company": {"name": 3}},
            },
            "max": {"country_entities": {"de": 1}},
        }
    )
    entity_count, _, schema_counts, violations = _check(entities, assertions)
    assert entity_count == 4
    assert schema_counts == {"Company": 3, "Person": 1}
    # the violation messages carry the measured values: country:de=2,
    # countries=3, prop:Company.name=2
    assert "error: schema:Company=3 < min 10" in violations
    assert "error: country:de=2 < min 3" in violations
    assert "error: countries=3 < min 7" in violations
    assert "error: prop:Company.name=2 < min 3" in violations
    assert "warning: country:de=2 > max 1" in violations


def test_fill_rate_skips_absent_schema(spark):
    """The reference's skip-absent-schema guard: a default fill-rate
    rule on a schema the dataset doesn't emit must not fail as 0.0 —
    but a present schema missing the property must."""
    assertions = parse_assertions(
        {"min": {"property_fill_rate": {
            "Person": {"name": 0.95},
            "Company": {"name": 0.95}}}}
    )
    only_person = _entities(spark, [("e1", "Person", {"name": ["V P"]})])
    assert _check(only_person, assertions)[3] == []

    nameless = _entities(spark, [("e1", "Person", {"country": ["ru"]})])
    violations = _check(nameless, assertions)[3]
    assert violations == ["error: fill:Person.name=0.0 < min 0.95"]


def test_run_dataset_no_assertions_nudge(spark, tmp_path):
    """A dataset without its own assertions runs to completion (the
    defaults pass on a named corpus) but carries the error-level
    "Dataset has no assertions." issue — abort-free, like the
    reference's validator."""
    import json

    from opensanctions_spark.model.melt import finish_statements
    from opensanctions_spark.plans.run import run_dataset
    from opensanctions_spark.sources.archive import StatementArchive

    stmts = finish_statements(
        spark.createDataFrame(
            [("p1", "Person", "name", "Alice")],
            "entity_id string, schema string, prop string, value string",
        ),
        dataset="nudge",
    )
    config = DatasetConfig.from_dict({"name": "nudge"})
    out_dir = str(tmp_path / "out")
    r = run_dataset(
        spark, stmts, config, StatementArchive(spark, str(tmp_path / "arch")),
        out_dir, run_time="2026-08-01T00:00:00",
    )
    assert r.entity_count == 1
    with open(os.path.join(out_dir, "issues.json")) as fh:
        issues = json.load(fh)["issues"]
    assert {"level": "error", "message": "Dataset has no assertions.",
            "dataset": "nudge"} in [
        {k: i[k] for k in ("level", "message", "dataset")} for i in issues
    ]


def test_extended_stats_all_country_props_things_only(spark):
    """entity.countries spans every country-typed prop (country,
    jurisdiction, mainCountry, nationality, citizenship), DISTINCT per
    entity, and only Thing-subtree entities count
    (``zavod/zavod/exporters/statistics.py:106-110``) — a dataset whose
    country signal lives in nationality must not undercount."""
    entities = _entities(
        spark,
        [
            ("e1", "Person", {"nationality": ["ru"], "citizenship": ["ru", "kz"]}),
            ("e2", "Company", {"jurisdiction": ["vg"]}),
            ("e3", "Sanction", {"country": ["us"]}),
        ],
    )
    assertions = parse_assertions(
        {"min": {"country_entities": {"ru": 1}, "countries": 3}}
    )
    assert _check(entities, assertions)[3] == []
    # max-0 probes surface each measured value in its warning message
    probes = parse_assertions(
        {"max": {"countries": 0,
                 "country_entities": {"ru": 0, "kz": 0, "us": 0}}}
    )
    violations = _check(entities, probes)[3]
    assert sorted(violations) == [
        "warning: countries=3 > max 0",      # ru, kz, vg; Sanction's us excluded
        "warning: country:kz=1 > max 0",
        "warning: country:ru=1 > max 0",     # distinct per entity
    ]


def test_check_counts_match_dataset_statistics(spark):
    """The check step and statistics.json read the same facet
    aggregation: on one entity view every count the check measures
    equals the published statistics number."""
    from opensanctions_spark.exporters.metadata import dataset_statistics

    entities = _entities(
        spark,
        [
            ("e1", "Company", {"name": ["A"], "country": ["de"],
                               "topics": ["sanction"]}),
            ("e2", "Company", {"name": ["B"], "jurisdiction": ["de", "fr"]}),
            ("e3", "Person", {"nationality": ["ru"], "name": [],
                              "topics": ["crime"]}),
            ("e4", "Sanction", {"country": ["us"], "programId": ["P1"]}),
        ],
    )
    stats = dataset_statistics(entities)
    expected = {
        "countries": len(stats["things"]["countries"]),
        **{f"country:{f['code']}": f["count"]
           for f in stats["things"]["countries"]},
        **{f"prop:{f['schema']}.{f['property']}": f["count"]
           for f in stats["things"]["entities_with_prop"]},
        **{f"fill:{f['schema']}.{f['property']}": f["fill_rate"]
           for f in stats["things"]["entities_with_prop"]},
    }
    probes = [Assertion(m, "max", -1, "warning") for m in expected]
    entity_count, target_count, schema_counts, violations = _check(
        entities, probes
    )
    assert entity_count == stats["entity_count"] == 4
    assert target_count == stats["target_count"] == 2
    assert sorted(schema_counts) == stats["schemata"]
    assert {
        f["schema"]: f["total"] for f in stats["things"]["entities_with_prop"]
    }.items() <= schema_counts.items()
    # a max -1 probe fails on every metric, reporting its measured value
    assert sorted(violations) == sorted(
        f"warning: {m}={n} > max -1" for m, n in expected.items()
    )
    assert expected["countries"] == 3            # de, fr, ru; us is a Sanction
    assert "prop:Person.name" not in expected    # empty value array
