"""Curation report (beyond-reference surface): the chart registry must
resolve entirely to oracle-gated driver queries, the document must build
non-vacuously over the test corpus, the emitter's page and sink must
round-trip it through each extension, and no report page (workload,
template-contract, curation) lets a hostile string break the document."""

import json
import os
import re
import zipfile

import pytest

from presto_workload_analyzer_spark.report import curation
from presto_workload_analyzer_spark.report.bokeh_compat import bokeh_available
from presto_workload_analyzer_spark.report.emitter import (
    render_html,
    render_html_template_contract,
    write_report,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TINY_SF", "/root/testdata/sf0.001")


def test_chart_registry_resolves_to_gated_queries():
    from presto_workload_analyzer_spark import driver_queries

    registry = driver_queries.queries()
    missing = [n for n in curation.CURATION_CHARTS if n not in registry]
    assert missing == [], missing
    sections = {s for s, _cap in curation.CURATION_CHARTS.values()}
    assert sections <= set(curation._SECTION_ORDER)


def test_cross_source_chart_query_ends_in_a_sort(spark):
    """x60 feeds a curation chart: its plan ends in a sort on the source
    pair, so two reports over one corpus list the rows in one order."""
    from presto_workload_analyzer_spark import driver_queries

    if not os.path.isdir(SF_DIR):
        pytest.skip(f"{SF_DIR} not present")
    df = driver_queries.queries()["x60_cross_source_dups"](spark, SF_DIR)
    root = df._jdf.queryExecution().optimizedPlan().toString().splitlines()[0]
    assert re.fullmatch(
        r"Sort \[source_a#\d+ ASC NULLS FIRST, source_b#\d+ ASC NULLS FIRST\], true",
        root,
    ), root


@pytest.fixture(scope="module")
def report(spark):
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"{SF_DIR} not present")
    return curation.build_curation_report(spark, SF_DIR, fail_on_error=True)


def test_report_builds_nonvacuously(report):
    assert report["errors"] == {}
    ids = [c["id"] for c in report["charts"]]
    assert len(ids) == len(set(ids))
    # every registered chart produced rows on this corpus
    assert set(ids) == set(curation.CURATION_CHARTS), (
        sorted(set(curation.CURATION_CHARTS) - set(ids))
    )
    for c in report["charts"]:
        assert c["data"] and c["columns"]
        assert len(c["data"][0]) == len(c["columns"])
        cap = curation.CURATION_CHARTS[c["id"]][1]
        assert len(c["data"]) <= cap
    m = report["structure"]["metrics"]
    assert m["n_documents"] > 0 and m["n_tokens"] > 0
    assert m["n_sources"] > 0 and m["n_embeddings"] > 0
    # charts arrive in section order
    secs = [curation.CURATION_CHARTS[i][0] for i in ids]
    order = {s: r for r, s in enumerate(curation._SECTION_ORDER)}
    assert secs == sorted(secs, key=order.__getitem__)


def _payload(page):
    return json.loads(
        page.split('<script id="payload" type="application/json">', 1)[1].split("</script>", 1)[0]
    )


def _curation_page(report):
    return render_html(report, report["structure"]["title"])


def test_html_and_sinks_roundtrip(report, tmp_path):
    doc = _payload(_curation_page(report))
    assert doc == report
    assert "<h1>Corpus curation report</h1>" in _curation_page(report)

    for suffix in ("json", "zip", "html"):
        write_report(report, str(tmp_path / f"r.{suffix}"), _curation_page, "curation.html")
    assert json.loads((tmp_path / "r.json").read_text()) == report
    with zipfile.ZipFile(tmp_path / "r.zip") as z:
        assert z.namelist() == ["curation.html"]
        assert _payload(z.read("curation.html").decode()) == report
    assert (tmp_path / "r.html").read_text().startswith("<!DOCTYPE html>")


HOSTILE = ["</script><img src=x onerror=alert(1)>", "<!--<script>", "</SCRIPT >"]


def test_adversarial_corpus_strings_cannot_break_the_document():
    """Report strings are untrusted: QueryInfo user, table and operator
    names and web-crawled corpus text can carry markup. Placed in a cell,
    a column, a title, a description, a metric and an error, no hostile
    string appears raw in any of the three pages (workload,
    reference-template contract, curation); no '<' is left inside any
    script block, so nothing can close one; no page assigns markup
    (innerHTML), its script builds DOM nodes through textContent; and the
    embedded document parses back to the report."""
    charts = [
        {
            "id": f"c{i}",
            "title": "t " + h,
            "description": "d " + h,
            "columns": ["a", h],
            "data": [[h, 1], ["x", h]],
        }
        for i, h in enumerate(HOSTILE)
    ]
    report = {
        "structure": {"title": "Corpus curation report", "metrics": {"n": 1, HOSTILE[1]: HOSTILE[0]}},
        "charts": charts,
        "errors": {f"q{i}": h for i, h in enumerate(HOSTILE)},
    }
    pages = {
        "workload": render_html(report),
        "template-contract": render_html_template_contract(report),
        "curation": _curation_page(report),
    }
    for name, page in pages.items():
        for h in HOSTILE:
            assert h not in page, (name, h)
        scripts = re.findall(r"<script[^>]*>(.*?)</script>", page, re.S)
        assert scripts, name
        for body in scripts:
            assert "<" not in body, (name, body[:80])
        assert "innerHTML" not in page, name
        if name == "template-contract":
            structure = json.loads(scripts[-1].split("const structure = ", 1)[1])
            assert structure["metrics"] == report["structure"]["metrics"]
            assert structure["charts"] == [
                {k: c[k] for k in ("title", "description", "id")} for c in charts
            ]
            if not bokeh_available():
                assert [json.loads(b)["fallback"] for b in scripts[:-1]] == charts
        else:
            assert _payload(page) == report, name


def test_unregistered_chart_name_degrades_to_per_chart_error(spark):
    """A CURATION_CHARTS entry missing from the registry must land in
    errors (per-chart tolerance), not kill the whole report."""
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"{SF_DIR} not present")
    orig = dict(curation.CURATION_CHARTS)
    curation.CURATION_CHARTS["zz_not_registered"] = ("corpus", 10)
    try:
        doc = curation.build_curation_report(
            spark, SF_DIR, only=["zz_not_registered", "x121_hll_distinct"]
        )
    finally:
        curation.CURATION_CHARTS.clear()
        curation.CURATION_CHARTS.update(orig)
    assert "zz_not_registered" in doc["errors"]
    assert [c["id"] for c in doc["charts"]] == ["x121_hll_distinct"]


def test_cli_single_chart(tmp_path, spark):
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"{SF_DIR} not present")
    from presto_workload_analyzer_spark import cli

    out = tmp_path / "one.json"
    rc = cli.main(
        [
            "curation-report",
            "-d", SF_DIR,
            "-o", str(out),
            "--filter", "x121_hll_distinct",
            "--fail-on-error",
        ]
    )
    assert rc == 0
    doc = json.loads(out.read_text())
    assert [c["id"] for c in doc["charts"]] == ["x121_hll_distinct"]
    assert cli.main(
        ["curation-report", "-d", SF_DIR, "-o", str(out), "--filter", "nope"]
    ) == 2
