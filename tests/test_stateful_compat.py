"""Compat ``zavod.stateful`` surface: occupancy-status decision order
and position categorisation pinned to
``zavod/zavod/tests/stateful/test_positions.py:18-235`` /
``test_review.py``, plus the generic review-extraction workflow."""

from __future__ import annotations

from datetime import datetime
from types import SimpleNamespace

import pytest

from opensanctions_spark import helpers as h
from opensanctions_spark.crawler import CrawlerContext
from opensanctions_spark.stateful.positions import (
    OccupancyStatus,
    PositionCategorisation,
    categorise,
    categorise_many,
    load_categorisations,
    occupancy_status,
)
from opensanctions_spark.stateful.review import (
    JSONSourceValue,
    TextSourceValue,
    assert_all_accepted,
    review_extraction,
)

NOW = datetime(2021, 1, 1)


def _context(metadata=None):
    config = SimpleNamespace(name="testds", metadata=metadata or {}, lookups={})
    return CrawlerContext(None, config)


def _make_occ(ctx, start=None, end=None, period_start=None, period_end=None):
    occ = ctx.make("Occupancy")
    occ.id = "occ"
    occ.add("startDate", start)
    occ.add("endDate", end)
    occ.add("periodStart", period_start)
    occ.add("periodEnd", period_end)
    return occ


def _status(ctx, implies, start, end, birth=None, death=None,
            position_topics=(), dissolution_date=None, period_end=None,
            categorisation=None):
    person = ctx.make("Person")
    person.id = "thabo"
    pos = h.make_position(
        ctx, "A position", country="ls", topics=list(position_topics),
        dissolution_date=[dissolution_date] if dissolution_date else None,
    )
    return occupancy_status(
        ctx,
        person=person,
        position=pos,
        occupancy=_make_occ(ctx, start=start, end=end, period_end=period_end),
        no_end_implies_current=implies,
        current_time=NOW,
        birth_date=birth,
        death_date=death,
        categorisation=categorisation,
    )


def test_occupancy_status_reference_cases():
    """The exact case table of the reference's test_occupancy_status."""
    ctx = _context()
    s = lambda *a, **k: _status(ctx, *a, **k)  # noqa: E731

    assert s(True, "2020-01-01", None) == OccupancyStatus.CURRENT
    assert s(True, None, None) == OccupancyStatus.CURRENT
    assert s(False, None, None) is None
    assert s(True, "1950-01-01", "2021-01-02") == OccupancyStatus.CURRENT
    assert s(True, "1950-01-01", "2020-12-31") == OccupancyStatus.ENDED
    assert s(False, "1950-01-01", "2016-01-01") is None
    assert s(False, "1950-01-01", "2016-01-01",
             position_topics=["gov.national"]) is OccupancyStatus.ENDED
    assert s(False, "1950-01-01", "2001-01-01",
             position_topics=["gov.national"]) is None
    # dissolution within / beyond after-office
    assert s(False, "1981-01-01", None,
             dissolution_date="2017-01-01") is OccupancyStatus.ENDED
    assert s(False, "2001-01-01", None, dissolution_date="2015-01-01") is None
    assert s(True, "2001-01-01", None, dissolution_date="2015-01-01") is None
    # categorisation topics override the position's
    assert _status(
        ctx, True, "1950-01-01", "2016-12-31",
        categorisation=PositionCategorisation(["gov.national"], True),
    ) is OccupancyStatus.ENDED
    # MAX_OFFICE (365-day years: the cutoff lands at 1981-01-11)
    assert s(False, "1981-01-01", None) is None
    assert s(True, "1981-01-01", None) is None
    assert s(False, "1981-01-15", None) == OccupancyStatus.UNKNOWN
    assert s(True, "1981-01-15", None) == OccupancyStatus.CURRENT
    # prefix-date end semantics
    assert s(True, "2020-01-01", "2021") == OccupancyStatus.CURRENT
    assert s(True, "2020-01-01", "2021-01") == OccupancyStatus.CURRENT
    assert s(True, "2020-01-01", "2021-01-01") == OccupancyStatus.CURRENT
    assert s(False, "2010-01-01", "2016") == OccupancyStatus.ENDED
    # death caps / disqualifies
    assert s(True, "2020-01-01", None, None, "2016-01-01") is None
    assert s(True, "1950-01-01", "2021-01-02", None, "2016-01-01") is None
    assert s(True, "1950-01-01", "2020-12-31", None, "2016-01-01") is None
    assert s(True, "2014-01-01", None, None, "2016") == OccupancyStatus.ENDED
    assert s(True, "2014-01-01", None, None, "2015") is None
    assert s(True, "2018-01-01", None, None, "2019-06-01") == OccupancyStatus.ENDED
    assert s(False, "2018-01-01", None, None, "2019-06-01") == OccupancyStatus.ENDED
    assert s(True, "1950-01-01", "2021-01-02", None,
             "2019-06-01") == OccupancyStatus.ENDED
    assert s(False, "1950-01-01", "2015-01-01", None, "2019-06-01") is None
    # birth beyond MAX_AGE
    assert s(True, "2020-01-01", None, "1910-01-01") is None
    assert s(True, "1950-01-01", "2021-01-02", "1910-01-01") is None
    # period_end semantics
    assert s(True, "2018-01-01", None,
             period_end="2020-06-01") == OccupancyStatus.ENDED
    assert s(True, "1950-01-01", None, period_end="2015-01-01") is None
    assert s(False, "2018-01-01", None,
             period_end="2025-01-01") == OccupancyStatus.UNKNOWN
    assert s(True, "2018-01-01", None,
             period_end="2025-01-01") == OccupancyStatus.CURRENT
    # individual end_date beats period_end
    assert s(True, "2018-01-01", "2020-12-31",
             period_end="2025-01-01") == OccupancyStatus.ENDED
    assert s(True, "2018-01-01", "2021-01-02",
             period_end="2025-01-01") == OccupancyStatus.CURRENT


def test_occupancy_status_coverage_distrust():
    """A future end date beyond the dataset's coverage window degrades
    CURRENT → UNKNOWN with a warning (positions.py:232-247)."""
    ctx = _context(metadata={"coverage": {"end": "2019-01-01"}})
    out = _status(ctx, True, "2015-01-01", "2021-06-01")
    assert out == OccupancyStatus.UNKNOWN
    assert any("coverage" in i["message"] for i in ctx.issues)


def test_categorise_flow():
    """test_positions.py:197-235: enrol-with-defaults, reviewed wins,
    metadata updates keep the decision."""
    ctx = _context()
    pos = h.make_position(ctx, "A position", country="ls",
                          subnational_area="Maseru")
    cat = categorise(ctx, pos, default_is_pep=None)
    assert cat.is_pep is None
    # second call returns the STORED decision even with a new default
    cat = categorise(ctx, pos, default_is_pep=True)
    assert cat.is_pep is None

    # a reviewed decision loaded from the external table wins
    pos2 = h.make_position(ctx, "Other position", country="de")
    load_categorisations(ctx, [(pos2.id, ["gov.igo"], True)])
    cat2 = categorise(ctx, pos2, default_is_pep=True)
    assert cat2.is_pep is True and cat2.topics == ["gov.igo"]

    # bulk fetch
    cats = categorise_many(ctx, [pos.id, pos2.id, "missing"])
    assert len(cats) == 2

    # metadata change updates the row but keeps the decision
    pos2b = h.make_position(ctx, "Other position renamed", country="de")
    pos2b.id = pos2.id
    cat2b = categorise(ctx, pos2b, default_is_pep=False)
    assert cat2b.is_pep is True
    assert any("position metadata" in i["message"].lower() for i in ctx.issues)


def test_review_extraction_lifecycle():
    ctx = _context()
    sv = TextSourceValue(["k1"], "names", "Jim Doe; James Doe")
    r = review_extraction(ctx, sv, h.Names(name="Jim Doe; James Doe"),
                          origin="analyst")
    assert not r.accepted

    # unaccepted reviews refresh to the newest extraction
    r2 = review_extraction(ctx, sv, h.Names(name="Jim Doe"), origin="analyst")
    assert r2 is r and r2.extracted_data == h.Names(name="Jim Doe")

    # accepted: the analyst's edit stands across re-crawls
    r2.accepted = True
    r2.extracted_data = h.Names(alias="Jimmy")
    r3 = review_extraction(ctx, sv, h.Names(name="Jim Doe"), origin="analyst")
    assert r3.accepted and r3.extracted_data == h.Names(alias="Jimmy")

    # both source value AND extraction changed → reset as if new
    sv2 = TextSourceValue(["k1"], "names", "Someone Else")
    r4 = review_extraction(ctx, sv2, h.Names(name="Someone Else"),
                           origin="analyst")
    assert not r4.accepted and r4.extracted_data == h.Names(name="Someone Else")

    # crawler_version bump also resets
    r4.accepted = True
    r5 = review_extraction(ctx, sv2, h.Names(name="Someone Else"),
                           origin="analyst", crawler_version=2)
    assert not r5.accepted


def test_assert_all_accepted():
    ctx = _context()
    sv = JSONSourceValue("k", "payload", {"a": [1]})
    r = review_extraction(ctx, sv, {"a": [1]}, origin="lookups")
    with pytest.raises(AssertionError, match="1 unaccepted"):
        assert_all_accepted(ctx)
    # warn-only mode
    assert_all_accepted(ctx, raise_on_unaccepted=False)
    assert any("unaccepted" in i["message"] for i in ctx.issues)
    r.accepted = True
    assert_all_accepted(ctx)  # no raise


def test_reference_import_paths():
    """Every import line the reference crawlers actually use resolves on
    a zavod → opensanctions_spark swap (the top-12 import shapes from a
    grep over datasets/*/*/crawler.py)."""
    from opensanctions_spark import Context, Entity, settings  # noqa: F401
    from opensanctions_spark import helpers as h  # noqa: F401
    from opensanctions_spark.entity import Entity as E2  # noqa: F401
    from opensanctions_spark.stateful.positions import (  # noqa: F401
        OccupancyStatus as _O,
        PositionCategorisation as _P,
        categorise as _c,
    )
    from opensanctions_spark.stateful.review import (  # noqa: F401
        HtmlSourceValue,
        JSONSourceValue as _J,
        TextSourceValue as _T,
        assert_all_accepted as _a,
        review_extraction as _r,
    )
    from opensanctions_spark.util import Element, ElementOrTree, LangText  # noqa: F401

    assert Context.__name__ == "CrawlerContext"
    assert settings.RUN_TIME.year >= 2026


# --------------------------------------------------------------------------
# shed.trans (zavod/zavod/shed/trans.py)


def test_apply_translit_full_name_and_position_translation():
    import json as _json

    from opensanctions_spark.shed import trans

    def runner(context, prompt, text, model):
        if "position label" in prompt:
            return _json.dumps({"eng": "Minister of Finance"})
        return _json.dumps({"eng": "Sergei Ivanov"})

    trans.register_text_prompt_runner(runner)
    try:
        ctx = _context()
        e = ctx.make("Person")
        e.id = "p1"
        trans.apply_translit_full_name(
            ctx, e, h.LangText("Сергей Иванов", "rus")
        )
        names = [(s[1], s[2], s[3]) for s in e._stmts if s[0] == "name"]
        assert names == [("Sergei Ivanov", "eng", "llm")]

        # as alias
        e2 = ctx.make("Person")
        e2.id = "p2"
        trans.apply_translit_full_name(
            ctx, e2, h.LangText("Сергей Иванов", "rus"), alias=True
        )
        assert [s[1] for s in e2._stmts if s[0] == "alias"] == ["Sergei Ivanov"]
        assert [s for s in e2._stmts if s[0] == "name"] == []

        result = trans.translate_position_name(
            ctx, h.LangText("Ministre des Finances", "fra")
        )
        assert result.get_preferred_language() == h.LangText(
            "Minister of Finance", "eng"
        )
    finally:
        trans.register_text_prompt_runner(None)


def test_translation_failure_routing():
    from opensanctions_spark.shed import trans

    ctx = _context()
    # unconfigured → empty result + logged error
    r = trans.run_translation_prompt(ctx, prompt="p", text="t")
    assert r.texts == [] and any(
        i["level"] == "error" for i in ctx.issues
    )
    # invalid JSON → empty + error
    trans.register_text_prompt_runner(lambda c, p, t, m: "not json")
    try:
        ctx2 = _context()
        assert trans.run_translation_prompt(ctx2, prompt="p", text="t").texts == []
        # unexpected keys → empty + warning
        trans.register_text_prompt_runner(lambda c, p, t, m: '{"deu": "x"}')
        ctx3 = _context()
        r3 = trans.run_translation_prompt(ctx3, prompt="p", text="t",
                                          output_langs=["eng"])
        assert r3.texts == []
        assert any(i["level"] == "warning" for i in ctx3.issues)
    finally:
        trans.register_text_prompt_runner(None)


def test_make_position_translate_rides_trans_runner():
    """With only the shed.trans LLM runner registered (no dedicated
    position translator), make_position(translate_name=True) still
    translates — the reference's zavod.shed.trans path."""
    import json as _json

    from opensanctions_spark.shed import trans

    trans.register_text_prompt_runner(
        lambda c, p, t, m: _json.dumps({"eng": "Minister of Finance"})
    )
    try:
        ctx = _context(metadata={"lang": "fra"})
        pos = h.make_position(ctx, "Ministre des Finances", translate_name=True)
        names = [s for s in pos._stmts if s[0] == "name"]
        assert names == [(
            "name", "Minister of Finance", "eng", "llm", "Ministre des Finances",
        )]
    finally:
        trans.register_text_prompt_runner(None)


# --------------------------------------------------------------------------
# extract.zyte_api seam (zavod/zavod/extract/zyte_api.py)


def test_zyte_fetch_html_validates_unblock(tmp_path):
    from opensanctions_spark.extract import zyte_api

    html_ok = "<html><body><table id='data'><tr><td>x</td></tr></table></body></html>"
    html_blocked = "<html><body>Access denied</body></html>"
    bodies = [html_blocked, html_ok]  # first attempt blocked, retry succeeds

    zyte_api.register_unblock_fetcher(lambda req: bodies.pop(0))
    try:
        ctx = _context()
        doc = zyte_api.fetch_html(
            ctx, "https://example.com/x", unblock_validator=".//table",
            backoff_factor=0,
        )
        assert doc.findall(".//td")
        assert any("retrying" in i["message"].lower() for i in ctx.issues)

        # never unblocks → UnblockFailedException after retries
        zyte_api.register_unblock_fetcher(lambda req: html_blocked)
        with pytest.raises(zyte_api.UnblockFailedException):
            zyte_api.fetch_html(
                _context(), "https://example.com/y",
                unblock_validator=".//table", retries=1, backoff_factor=0,
            )
    finally:
        zyte_api.register_unblock_fetcher(None)


def test_zyte_fetch_html_absolute_links():
    from opensanctions_spark.extract import zyte_api

    html = "<html><body><p id='ok'><a href='/next'>n</a></p></body></html>"
    zyte_api.register_unblock_fetcher(lambda req: html)
    try:
        doc = zyte_api.fetch_html(
            _context(), "https://example.com/list/page1",
            unblock_validator=".//p", absolute_links=True, backoff_factor=0,
        )
        links = [a.get("href") for a in doc.iter("a")]
        assert links == ["https://example.com/next"]
    finally:
        zyte_api.register_unblock_fetcher(None)


def test_zyte_fetch_json_and_resource(tmp_path):
    import json as _json

    from opensanctions_spark.extract import zyte_api

    zyte_api.register_unblock_fetcher(lambda req: _json.dumps({"a": 1}))
    try:
        ctx = CrawlerContext(
            None,
            SimpleNamespace(name="x", metadata={}, lookups={}),
            work_dir=str(tmp_path),
        )
        assert zyte_api.fetch_json(ctx, "https://e.com/d.json") == {"a": 1}
        path = zyte_api.fetch_resource(ctx, "d.json", "https://e.com/d.json")
        assert _json.load(open(path)) == {"a": 1}
    finally:
        zyte_api.register_unblock_fetcher(None)


def test_zyte_unregistered_raises():
    from opensanctions_spark.extract import zyte_api

    with pytest.raises(NotImplementedError, match="register_unblock_fetcher"):
        zyte_api.fetch_text(_context(), "https://example.com")


def test_categorised_position_qids():
    from opensanctions_spark.stateful.positions import (
        categorised_position_qids,
    )

    ctx = _context()
    load_categorisations(ctx, [
        ("Q123", ["gov.national"], True),
        ("Q456", [], False),
        ("osp-abc", ["gov.igo"], True),    # not a QID
    ])
    p = h.make_position(ctx, "No verdict position", country="de")
    categorise(ctx, p, default_is_pep=None)  # is_pep None → excluded
    got = dict(categorised_position_qids(ctx))
    assert got == {"Q123": True, "Q456": False}


def test_full_import_census_resolves():
    """Every DISTINCT single-line zavod import across all 483 reference
    crawlers resolves on a package-name swap (multi-line parenthesised
    forms are covered by the explicit import tests above); the known
    irreducible exceptions are pinned."""
    import os
    import subprocess

    datasets = "/root/reference/datasets"
    if not os.path.isdir(datasets):
        pytest.skip(f"reference checkout absent: {datasets}")
    out = subprocess.run(
        ["grep", "-rhE", "^from zavod[. ]|^import zavod",
         *[os.path.join(datasets, d) for d in os.listdir(datasets)]],
        capture_output=True, text=True,
    ).stdout
    known_unresolved = {
        # removed from the reference itself (stale crawler)
        "from zavod import init_context",
    }
    failures = []
    for line in sorted(set(out.splitlines())):
        line = line.strip()
        if not line or line.endswith("("):
            continue  # multi-line forms: covered by explicit imports
        if line in known_unresolved:
            continue
        try:
            exec(line.replace("zavod", "opensanctions_spark"), {})
        except Exception as ex:
            failures.append(f"{line} -> {ex}")
    assert not failures, "\n".join(failures)


# --------------------------------------------------------------------------
# shed.un_sc (zavod/zavod/shed/un_sc.py)


def test_un_sc_parse_and_name_semantics(tmp_path):
    from opensanctions_spark.shed import un_sc

    xml = """<?xml version="1.0"?>
<CONSOLIDATED_LIST>
  <INDIVIDUALS>
    <INDIVIDUAL>
      <DATAID>6908555</DATAID>
      <REFERENCE_NUMBER>QDi.001</REFERENCE_NUMBER>
      <FIRST_NAME>Abdul</FIRST_NAME>
      <SECOND_NAME>Rahman</SECOND_NAME>
      <THIRD_NAME>al-Test</THIRD_NAME>
    </INDIVIDUAL>
    <INDIVIDUAL>
      <DATAID>6908556</DATAID>
      <REFERENCE_NUMBER>KPi.002</REFERENCE_NUMBER>
      <FIRST_NAME>Mononym</FIRST_NAME>
    </INDIVIDUAL>
  </INDIVIDUALS>
  <ENTITIES>
    <ENTITY>
      <DATAID>6908999</DATAID>
      <REFERENCE_NUMBER>LYe.003</REFERENCE_NUMBER>
      <FIRST_NAME>Test Trading Co</FIRST_NAME>
    </ENTITY>
  </ENTITIES>
</CONSOLIDATED_LIST>"""
    src = tmp_path / "unsc.xml"
    src.write_text(xml)
    yml = tmp_path / "un_sc_sanctions.yml"
    yml.write_text(f"name: un_sc_sanctions\ndata:\n  url: {src}\n")

    ctx = CrawlerContext(
        None, SimpleNamespace(name="un", metadata={}, lookups={}),
        work_dir=str(tmp_path / "work"),
    )
    dataset, doc = un_sc.load_un_sc(ctx, dataset_path=str(yml))
    assert dataset.name == "un_sc_sanctions"

    persons = list(un_sc.get_persons(ctx, "unsc", doc))
    assert len(persons) == 2
    node, p1 = persons[0]
    assert p1.id == "unsc-6908555"
    assert p1.get("firstName") == ["Abdul"]
    assert p1.get("lastName") == ["al-Test"]
    assert p1.get("name") == ["Abdul Rahman al-Test"]
    assert p1.get("topics") == ["sanction"]
    _n, p2 = persons[1]
    assert p2.get("name") == ["Mononym"]  # single name: no part props
    assert p2.get("firstName") == []

    # regime filter: only DAESH_AL_QAIDA (QD) individuals
    only_qd = list(un_sc.get_persons(ctx, "unsc", doc, [un_sc.Regime.DAESH_AL_QAIDA]))
    assert [e.id for _n, e in only_qd] == ["unsc-6908555"]

    ents = list(un_sc.get_legal_entities(ctx, "unsc", doc))
    assert len(ents) == 1 and ents[0][1].schema.name == "LegalEntity"


# --------------------------------------------------------------------------
# shed.firds (zavod/zavod/shed/firds.py)


def test_firds_parse_zip_and_latest_set(tmp_path, spark):
    import zipfile

    from pyspark.sql import functions as F  # noqa: F401

    from opensanctions_spark.shed import firds

    NS = "urn:iso:std:iso:20022:tech:xsd:auth.017.001.02"
    xml = f"""<?xml version="1.0"?>
<Doc xmlns="{NS}">
  <RefData>
    <FinInstrmGnlAttrbts>
      <Id>US0378331005</Id>
      <FullNm>Apple Inc</FullNm>
      <ShrtNm>AAPL</ShrtNm>
      <ClssfctnTp>ESVUFR</ClssfctnTp>
      <NtnlCcy>USD</NtnlCcy>
    </FinInstrmGnlAttrbts>
    <TradgVnRltdAttrbts>
      <AdmssnApprvlDtByIssr>1980-12-12</AdmssnApprvlDtByIssr>
    </TradgVnRltdAttrbts>
    <Issr>HWUPKR0MPOU8FGXBT394</Issr>
  </RefData>
  <RefData>
    <FinInstrmGnlAttrbts>
      <Id>EZNOTVALID99</Id>
      <FullNm>OTC Thing</FullNm>
    </FinInstrmGnlAttrbts>
  </RefData>
</Doc>"""
    zpath = tmp_path / "FULINS_E_20240101_01of01.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        z.writestr("FULINS_E_20240101_01of01.xml", xml)

    ctx = CrawlerContext(
        spark, SimpleNamespace(name="eu_esma_firds", metadata={}, lookups={}),
        work_dir=str(tmp_path / "work"),
    )
    firds.parse_xml_file(ctx, str(zpath))
    stmts = ctx.statements_df(run_time="2026-08-15T00:00:00")
    rows = {(r["entity_id"], r["prop"]): (r["value"], r["origin"])
            for r in stmts.collect()}
    # the valid ISIN emits a security with its issuer linked by LEI
    assert rows[("isin-US0378331005", "name")][0] == "Apple Inc"
    assert rows[("isin-US0378331005", "issuer")][0] == "lei-HWUPKR0MPOU8FGXBT394"
    assert rows[("lei-HWUPKR0MPOU8FGXBT394", "leiCode")][0] == "HWUPKR0MPOU8FGXBT394"
    # origin stamped from the dump file name (emit origin kwarg)
    assert rows[("isin-US0378331005", "name")][1] == "FULINS_E_20240101_01of01.xml"
    # the invalid ISIN row was skipped entirely
    assert not any(e.startswith("isin-EZ") for e, _p in rows)

    latest = firds.latest_full_set(ctx, [
        ("a", "https://x/FULINS_E_20240101_01of02.zip"),
        ("b", "https://x/FULINS_E_20240101_02of02.zip"),
        ("c", "https://x/FULINS_E_20231201_01of01.zip"),
        ("bad", "https://x/nodate.zip"),
    ])
    assert [n for n, _u in latest] == ["a", "b"]
    assert any("does not match" in i["message"] for i in ctx.issues)


# --------------------------------------------------------------------------
# shed.bods (zavod/zavod/shed/bods.py)


def test_bods_statement_parsing(tmp_path, spark):
    import io
    import json as _json

    from opensanctions_spark.shed import bods

    lines = [
        {
            "statementType": "personStatement",
            "statementID": "p-1",
            "personType": "knownPerson",
            "isComponent": False,
            "names": [{"fullName": "Jane Owner"}],
            "nationalities": [{"code": "dk", "name": "Denmark"}],
            "birthDate": "1970-01",
            "identifiers": [
                {"schemeName": "OpenOwnership Register",
                 "uri": "https://register.example/p-1"},
                {"schemeName": "Some Unknown Scheme", "id": "x"},
            ],
            "addresses": [{"address": "1 Main St", "country": "dk"}],
        },
        {
            "statementType": "personStatement",
            "statementID": "p-2",
            "personType": "anonymousPerson",
            "isComponent": False,
        },
        {
            "statementType": "entityStatement",
            "statementID": "e-1",
            "isComponent": False,
            "name": "Acme ApS",
            "alternateNames": ["Acme"],
            "foundingDate": "1999-05-01",
            "incorporatedInJurisdiction": {"code": "dk", "name": "Denmark"},
            "identifiers": [
                {"schemeName": "Global Legal Entity Identifier Index",
                 "uri": "https://lei.example/HWUPKR0MPOU8FGXBT394"},
            ],
        },
        {
            "statementType": "ownershipOrControlStatement",
            "statementID": "o-1",
            "isComponent": False,
            "statementDate": "2020-01-01",
            "interestedParty": {"describedByPersonStatement": "p-1"},
            "subject": {"describedByEntityStatement": "e-1"},
            "interests": [{"type": "shareholding", "details": "60%",
                           "startDate": "2019-01-01"}],
        },
    ]
    fh = io.BytesIO("\n".join(_json.dumps(x) for x in lines).encode() + b"\n")
    ctx = CrawlerContext(
        spark, SimpleNamespace(name="oo_bods", metadata={}, lookups={}),
        work_dir=str(tmp_path),
    )
    bods.parse_bods_fh(ctx, fh)
    stmts = ctx.statements_df(run_time="2026-08-15T00:00:00")
    rows = {}
    for r in stmts.collect():
        rows.setdefault((r["entity_id"], r["prop"]), []).append(r["value"])

    assert rows[("oo_bods-p-1", "name")] == ["Jane Owner"]
    assert rows[("oo_bods-p-1", "nationality")] == ["Denmark"]
    assert rows[("oo_bods-p-1", "sourceUrl")] == ["https://register.example/p-1"]
    assert sorted(rows[("oo_bods-p-1", "country")]) == ["dk"]
    # anonymous person skipped entirely
    assert not any(e == "oo_bods-p-2" for e, _p in rows)
    # entity: jurisdiction with original_value, LEI tail extracted
    assert rows[("oo_bods-e-1", "jurisdiction")] == ["dk"]
    assert rows[("oo_bods-e-1", "leiCode")] == ["HWUPKR0MPOU8FGXBT394"]
    # ownership edge: the reference keeps the RAW statement ids as
    # owner/asset references (bods.py:118-122) — resolution happens at
    # integration time, not parse time
    assert rows[("oo_bods-o-1", "owner")] == ["p-1"]
    assert rows[("oo_bods-o-1", "asset")] == ["e-1"]
    assert rows[("oo_bods-o-1", "role")] == ["shareholding"]
    # unknown scheme warned, not added
    assert any("Unknown scheme" in i["message"] for i in ctx.issues)


# --------------------------------------------------------------------------
# shed.fsf (zavod/zavod/shed/fsf.py)


def _fsf_context(spark, tmp_path):
    from opensanctions_spark.functions.lookups import Lookup, LookupOption

    lookups = {
        "subject_type": Lookup("subject_type", [
            LookupOption(match=["person"], result={"value": "Person"}),
            LookupOption(match=["enterprise"], result={"value": "Organization"}),
        ]),
        "identification_type": Lookup("identification_type", [
            LookupOption(match=["passport"],
                         result={"schema": "Identification"}),
            LookupOption(match=["regnumber"],
                         result={"prop": "registrationNumber"}),
        ]),
        "contact_info": Lookup("contact_info", [
            LookupOption(match=["PHONE"], result={"prop": "phone"}),
        ]),
        "sanction.program": Lookup("sanction.program", []),
    }
    config = SimpleNamespace(name="eu_fsf", metadata={}, lookups=lookups)
    return CrawlerContext(spark, config, work_dir=str(tmp_path))


FSF_XML = """<?xml version="1.0"?>
<export>
<sanctionEntity euReferenceNumber="EU.1234.56" designationDate="2014-07-31"
                unitedNationId="QDi.999">
  <subjectType code="person"/>
  <remark>Some remark</remark>
  <regulation programme="UKR" numberTitle="269/2014 (OJ L78)"
              entryIntoForceDate="2014-03-17" publicationDate="2014-03-21">
    <publicationUrl>https://eur-lex.example/reg269</publicationUrl>
  </regulation>
  <nameAlias wholeName="Sergei Ivanov" firstName="Sergei" lastName="Ivanov"
             strong="true" nameLanguage="en" title="(a) Mr, (b) Gen"
             function="(a) Minister, (b) Advisor" gender="male"/>
  <nameAlias wholeName="Serguei Ivanoff" strong="false"
             nameLanguage="fr">
    <remark>Low quality a.k.a.</remark>
  </nameAlias>
  <identification identificationTypeCode="passport" number="D12345"
                  latinNumber="D12345" issuedBy="FSB" issueDate="2010-01-01"
                  countryIso2Code="RU" logicalId="77"
                  identificationTypeDescription="Diplomatic passport"/>
  <identification identificationTypeCode="mystery" number="X"/>
  <address street="1 Red Square" city="Moscow" countryIso2Code="RU"
           countryDescription="Russia">
    <contactInfo key="PHONE" value="+7 1, +7 2"/>
    <contactInfo key="FAX" value="+7 3"/>
  </address>
  <birthdate year="1960" month="2" day="0" countryIso2Code="RU"
             countryDescription="Russia" city="Leningrad"/>
  <citizenship countryIso2Code="RU" countryDescription="Russia"/>
</sanctionEntity>
</export>"""


def test_fsf_parse_entry(tmp_path, spark):
    from xml.etree import ElementTree

    from opensanctions_spark.shed import fsf

    ctx = _fsf_context(spark, tmp_path)
    root = ElementTree.fromstring(FSF_XML)
    for entry in root.findall("./sanctionEntity"):
        fsf.parse_entry(ctx, entry)

    stmts = ctx.statements_df(run_time="2026-08-15T00:00:00")
    rows = {}
    for r in stmts.collect():
        rows.setdefault((r["entity_id"], r["prop"]), []).append(r["value"])

    eid = "eu-fsf-eu-1234-56"
    # strong name applied with parts; weak one routed to weakAlias via
    # the reviewed-names flow (unaccepted → original categorisation)
    assert rows[(eid, "name")] == ["Sergei Ivanov"]
    assert rows[(eid, "weakAlias")] == ["Serguei Ivanoff"]
    assert rows[(eid, "firstName")] == ["Sergei"]
    assert sorted(rows[(eid, "title")]) == ["Gen", "Mr"]
    assert sorted(rows[(eid, "position")]) == ["Advisor", "Minister"]
    assert rows[(eid, "topics")] == ["sanction"]
    # sanction: earliest of designation/entry-into-force, program routed
    sanction_ids = [e for (e, p) in rows if p == "unscId"]
    assert len(sanction_ids) == 1
    sid = sanction_ids[0]
    assert rows[(sid, "startDate")] == ["2014-03-17"]
    assert rows[(sid, "unscId")] == ["QDi.999"]
    assert rows[(sid, "sourceUrl")] == ["https://eur-lex.example/reg269"]
    # identification emitted for the schema-mapped type only
    id_ids = [e for (e, p) in rows if p == "number"]
    assert len(set(id_ids)) == 1
    assert any("Unknown identification type" in i["message"] for i in ctx.issues)
    # address + contact info (known key only), birth prefix date
    assert rows[(eid, "phone")] == ["+7 1", "+7 2"]
    assert any("Unknown contact info" in i["message"] for i in ctx.issues)
    assert "1960-02" in rows[(eid, "birthDate")]
    assert rows[(eid, "nationality")] == ["ru"]


# --------------------------------------------------------------------------
# shed.bs_tokyo_mou_psc + shed.internal_data


PSC_SEARCH_HTML = """<html><body>
<table>
<tr class="even"><td><input type="hidden" value="UID-1"/></td></tr>
</table>
<ul class="navigate"><li>Found 1 records on 1 pages</li></ul>
</body></html>"""

PSC_SHIP_HTML = """<html><body>
<h2>Inspection data</h2>
<table><tr><th>Date</th><th>Port</th></tr>
<tr><td>2024-03-05</td><td>Busan</td></tr></table>
<h2>Ship data</h2>
<table><tr><th>Ship name</th><th>IMO number</th><th>Type</th><th>Callsign</th>
<th>MMSI</th><th>Tonnage</th><th>Deadweight</th><th>Flag</th>
<th>Name of ship master</th><th>ClassificationSociety</th></tr>
<tr><td>MV Test</td><td>9999999</td><td>Bulk carrier</td><td>ABCD</td>
<td>123456789</td><td>30000</td><td>52000</td><td>Panama</td>
<td>John Master</td><td>Test Class Society</td></tr></table>
<h2>Company details</h2>
<table><tr><th>Name</th><th>IMO number</th><th>Registered</th>
<th>Residence</th><th>Email</th><th>Phone</th><th>Fax</th></tr>
<tr><td>Test Shipping Co</td><td>555</td><td>Panama</td><td>Greece</td>
<td>a@b.c</td><td>+30 1</td><td>+30 2</td></tr></table>
</body></html>"""


def test_tokyo_mou_psc_crawl(tmp_path, spark):
    from opensanctions_spark.crawler import register_http_fetcher
    from opensanctions_spark.shed import bs_tokyo_mou_psc as psc

    def fetcher(url, **kwargs):
        if "inspection" in url:
            return PSC_SEARCH_HTML
        return PSC_SHIP_HTML

    register_http_fetcher(fetcher)
    try:
        ctx = CrawlerContext(
            spark, SimpleNamespace(name="tokyo_mou", metadata={}, lookups={}),
            work_dir=str(tmp_path),
        )
        psc.crawl_psc_records(
            ctx,
            headers={},
            search_data={"Flag": ""},
            getinspection_url="https://psc.example/getinspection",
            getships_url="https://psc.example/getships",
        )
        stmts = ctx.statements_df(run_time="2026-08-15T00:00:00")
        rows = {}
        for r in stmts.collect():
            rows.setdefault((r["schema"], r["prop"]), []).append(r["value"])
        assert rows[("Vessel", "name")] == ["MV Test"]
        assert rows[("Vessel", "imoNumber")] == ["9999999"]
        assert rows[("Person", "name")] == ["John Master"]
        assert rows[("Organization", "name")] == ["Test Class Society"]
        assert rows[("Company", "name")] == ["Test Shipping Co"]
        # three UnknownLink edges: master, class society, company
        assert sorted(rows[("UnknownLink", "role")]) == [
            "Classification society", "Company", "Master",
        ]
        assert set(rows[("UnknownLink", "date")]) == {"2024-03-05"}
    finally:
        register_http_fetcher(None)


def test_internal_data_store_seam(tmp_path):
    from opensanctions_spark.shed import internal_data
    from opensanctions_spark.sources.objectstore import FileSystemBackend

    with pytest.raises(NotImplementedError, match="register_internal_data_store"):
        internal_data.fetch_internal_data("k", tmp_path / "x")

    root = tmp_path / "bucket"
    (root / "src").mkdir(parents=True)
    (root / "src" / "data.csv").write_text("a,b\n1,2\n")
    internal_data.register_internal_data_store(FileSystemBackend(str(root)))
    try:
        dest = tmp_path / "out" / "data.csv"
        internal_data.fetch_internal_data("src/data.csv", dest)
        assert dest.read_text() == "a,b\n1,2\n"
        with pytest.raises(FileNotFoundError):
            internal_data.fetch_internal_data("missing.csv", tmp_path / "y")
        assert list(internal_data.list_internal_data("src")) == ["src/data.csv"]
    finally:
        internal_data.register_internal_data_store(None)


# --------------------------------------------------------------------------
# shed.wikidata (client seam + country/human traversals)


class _FakeWdClient:
    def __init__(self, items):
        self.items = {i.id: i for i in items}

    def fetch_item(self, qid):
        return self.items.get(qid)


def _wd_world():
    from opensanctions_spark.shed.wikidata.model import WdClaim, WdItem, WdText

    germany = WdItem("Q183", {"Q6256"}, [WdClaim("P297", value="DE")],
                     WdText("Germany", "eng"))
    berlin = WdItem("Q64", {"Q515"}, [WdClaim("P17", qid="Q183")],
                    WdText("Berlin"))
    prussia = WdItem("Q38872", {"Q3024240"}, [], WdText("Prussia"))
    person = WdItem(
        "Q999001", {"Q5"},
        [
            WdClaim("P569", value="1970-05-01"),
            WdClaim("P27", qid="Q183"),
        ],
        WdText("Jane Example (politician)", "eng"),
    )
    return _FakeWdClient([germany, berlin, prussia, person])


def test_wikidata_country_traversal():
    from opensanctions_spark.shed.wikidata import country

    country.item_countries.cache_clear()
    country.is_historical_country.cache_clear()
    client = _wd_world()
    # a city resolves to its P17 country's ISO code (P297 base case)
    codes = {t.text for t in country.item_countries(client, "Q64")}
    assert codes == {"de"}
    # historical polity detected by type
    assert country.is_historical_country(client, "Q38872")
    assert not country.is_historical_country(client, "Q183")
    # skip places yield nothing
    assert country.item_countries(client, "Q7785") == set()


def test_wikidata_basic_human():
    from opensanctions_spark.shed.wikidata import country
    from opensanctions_spark.shed.wikidata.human import wikidata_basic_human
    from opensanctions_spark.shed.wikidata.model import WdClaim, WdItem, WdText

    country.item_countries.cache_clear()
    country.is_historical_country.cache_clear()
    client = _wd_world()
    ctx = _context()
    person = client.fetch_item("Q999001")
    e = wikidata_basic_human(ctx, client, person, strict=True)
    assert e is not None and e.id == "Q999001"
    # disambiguator stripped from the label
    assert e.get("name") == ["Jane Example"]
    assert e.get("citizenship") == ["de"]
    assert e.get("birthDate") == ["1970-05-01"]

    # non-human types are rejected
    cat = WdItem("Q5582", {"Q146"}, [], WdText("A Cat"))
    assert wikidata_basic_human(ctx, client, cat) is None
    # strict mode drops the deceased
    dead = WdItem("Q999002", {"Q5"},
                  [WdClaim("P570", value="2001-01-01")], WdText("Gone"))
    assert wikidata_basic_human(ctx, client, dead, strict=True) is None
    assert wikidata_basic_human(ctx, client, dead, strict=False) is not None


def test_wikidata_client_seam():
    from opensanctions_spark.shed.wikidata import client as wd_client

    with pytest.raises(NotImplementedError, match="register_wikidata_client"):
        wd_client.create_wikidata_client(_context())
    wd_client.register_wikidata_client_factory(lambda ctx: _wd_world())
    try:
        c = wd_client.create_wikidata_client(_context())
        assert c.fetch_item("Q183") is not None
    finally:
        wd_client.register_wikidata_client_factory(None)


# --------------------------------------------------------------------------
# shed.wikidata.position (position gate, topics, occupancies)


class _QueryResult:
    def __init__(self, rows):
        self.results = [_QueryRow(r) for r in rows]


class _QueryRow:
    def __init__(self, d):
        self.d = d

    def plain(self, key):
        return self.d.get(key)


class _FakeWdClient2(_FakeWdClient):
    def __init__(self, items, query_rows=()):
        super().__init__(items)
        self.query_rows = list(query_rows)

    def query(self, q, cache_days=None):
        return _QueryResult(self.query_rows)


def _position_world():
    from opensanctions_spark.shed.wikidata.model import WdClaim, WdItem, WdText

    germany = WdItem("Q183", {"Q6256"}, [WdClaim("P297", value="DE")],
                     WdText("Germany", "eng"))
    minister = WdItem(
        "Q990001", {"Q4164871", "Q83307"},
        [WdClaim("P1001", qid="Q183")],
        WdText("Federal Minister of Things", "eng"),
    )
    medal = WdItem(
        "Q990002", {"Q4164871", "Q618779"}, [WdClaim("P17", qid="Q183")],
        WdText("Order of Merit", "eng"),
    )
    nato_sg = WdItem(
        "Q990003", {"Q4164871"},
        [WdClaim("P361", qid="Q7184")],
        WdText("Secretary General of NATO", "eng"),
    )
    abolished = WdItem(
        "Q990004", {"Q4164871", "Q83307"},
        [WdClaim("P1001", qid="Q183"), WdClaim("P576", value="1932-01-01")],
        WdText("Reich Minister of Things", "eng"),
    )
    return _FakeWdClient2([germany, minister, medal, nato_sg, abolished])


def test_wikidata_position_gate_and_topics():
    from opensanctions_spark.shed.wikidata import country
    from opensanctions_spark.shed.wikidata.position import wikidata_position
    from opensanctions_spark.stateful.positions import load_categorisations

    country.item_countries.cache_clear()
    country.is_historical_country.cache_clear()
    client = _position_world()
    ctx = _context()

    minister = wikidata_position(ctx, client, client.fetch_item("Q990001"))
    assert minister is not None
    assert minister.get("country") == ["de"]
    assert minister.get("topics") == ["gov.executive"]  # role.pep stripped
    assert minister.get("name") == ["Federal Minister of Things"]

    # award-ancestry positions are silently excluded
    assert wikidata_position(ctx, client, client.fetch_item("Q990002")) is None

    # positions abolished before the cutoff drop...
    assert wikidata_position(ctx, client, client.fetch_item("Q990004")) is None
    # ...unless a reviewer rescued them
    ctx2 = _context()
    load_categorisations(ctx2, [("Q990004", ["gov.executive"], True)])
    rescued = wikidata_position(ctx2, client, client.fetch_item("Q990004"))
    assert rescued is not None

    # intl-org positions: pseudo-country, review as undecided → None
    # until accepted (is_pep None is not truthy)
    ctx3 = _context()
    nato = wikidata_position(ctx3, client, client.fetch_item("Q990003"))
    assert nato is None  # undecided, not emitted yet
    load_categorisations(ctx3, [("Q990003", ["gov.igo"], True)])
    nato = wikidata_position(ctx3, client, client.fetch_item("Q990003"))
    assert nato is not None and nato.get("country") == ["zz"]
    assert nato.get("topics") == ["gov.igo"]


def test_wikidata_position_holders_and_occupancy():
    from opensanctions_spark.shed.wikidata.model import (
        WdClaim,
        WdItem,
        WdRef,
        WdText,
    )
    from opensanctions_spark.shed.wikidata.position import (
        position_holders,
        wikidata_occupancy,
        wikidata_position,
    )

    client = _position_world()
    client.query_rows = [
        {"person": "Q111", "modifiedAt": "2026-01-01T00:00:00Z"},
        {"person": None, "modifiedAt": None},
    ]
    item = client.fetch_item("Q990001")
    item.claims.append(WdClaim("P1308", qid="Q222"))
    holders = position_holders(client, item)
    assert set(holders) == {"Q111", "Q222"}
    assert holders["Q111"].year == 2026 and holders["Q222"] is None

    ctx = _context()
    position = wikidata_position(ctx, client, item)
    person = ctx.make("Person")
    person.id = "Q111"
    person.add("name", "Helga Holder")
    p39 = WdClaim(
        "P39", qid="Q990001",
        qualifiers={
            "P580": [WdClaim("P580", value="2011-03-01"),
                     WdClaim("P580", value="2010-01-01")],
            "P582": [WdClaim("P582", value="2024-06-30")],
            "P768": [WdClaim("P768", value="Berlin-Mitte")],
        },
        references=[WdRef({"P854": [WdClaim("P854", value="https://gov.example/x")]})],
    )
    occ = wikidata_occupancy(ctx, person, position, p39)
    assert occ is not None
    assert occ.get("startDate") == ["2010-01-01"]  # earliest start wins
    assert occ.get("endDate") == ["2024-06-30"]
    assert occ.get("sourceUrl") == ["https://gov.example/x"]
    assert occ.get("constituency") == ["Berlin-Mitte"]
    # holder inherits the position's real country as inferred
    assert "de" in person.get("country")
