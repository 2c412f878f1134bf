"""CLI end-to-end: extract -> process -> analyze over the fixture corpus,
through main() exactly as a user would run it."""

import copy
import gzip
import json
import os
import zipfile

import pytest

from presto_workload_analyzer_spark.cli import main

from queryinfo_fixtures import fixtures, make_queryinfo

PROCESS_FLAGS = [
    "--remove-query", "--rename-schemas", "--rename-catalogs",
    "--remove-locations", "--rename-user", "--rename-partitions",
]


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("cli_corpus")
    for i, doc in enumerate(fixtures()):
        with gzip.open(d / f"q{i:03d}.json.gz", "wt") as f:
            json.dump(doc, f)
    return d


def test_cli_pipeline(spark, corpus, tmp_path, capsys):
    summary = str(tmp_path / "summary")
    assert main(["extract", "-i", str(corpus), "-o", summary]) == 0
    assert "extracted 13 summaries" in capsys.readouterr().out

    clean = str(tmp_path / "clean")
    rc = main(
        ["process", "-i", summary, "-o", clean, "--rename-user", "--remove-query"]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "processed 13 summaries" in out
    assert "Users translation table" in out and "'alice': 'user0'" in out

    report = str(tmp_path / "out.zip")
    assert main(["analyze", "-i", clean, "-o", report, "--high-contrast-mode"]) == 0
    assert "0 errors" in capsys.readouterr().out
    with zipfile.ZipFile(report) as z:
        html = z.read("output.html").decode()
    assert "scheduled by date" in html
    assert "alice" not in html  # obfuscated corpus feeds the report


def test_cli_analyze_filter_and_limit(spark, corpus, tmp_path, capsys):
    summary = str(tmp_path / "s2")
    main(["extract", "-i", str(corpus), "-o", summary, "-l", "5"])
    capsys.readouterr()
    out_json = str(tmp_path / "one.json")
    rc = main(["analyze", "-i", summary, "-o", out_json, "--filter", "queries_by_date"])
    assert rc == 0
    doc = json.loads(open(out_json).read())
    assert [c["id"] for c in doc["charts"]] == ["queries_by_date"]

    # unknown analyzer name -> usage error
    assert main(["analyze", "-i", summary, "-o", out_json, "--filter", "nope"]) == 2


def test_cli_single_file_and_template_contract(spark, corpus, tmp_path, capsys):
    """Reference-style invocation: `-o summary.jsonl.gz` lands ONE gzip file
    (extract.py:189-203 shape); `analyze --template-contract` emits the
    reference template's per-chart script blocks."""
    import os

    summary = str(tmp_path / "summary.jsonl.gz")
    assert main(["extract", "-i", str(corpus), "-o", summary]) == 0
    assert "extracted 13 summaries" in capsys.readouterr().out
    assert os.path.isfile(summary)
    with gzip.open(summary, "rt") as fh:
        assert sum(1 for line in fh if line.strip()) == 13

    html_out = str(tmp_path / "out.html")
    rc = main(
        ["analyze", "-i", summary, "-o", html_out, "--template-contract"]
    )
    assert rc == 0
    html = open(html_out).read()
    assert '<script type="application/json" id="scheduled_by_date">' in html
    assert "const structure = " in html


def _jobs(spark, fn):
    """(fn's result, number of Spark jobs fn launched)."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out = fn()
    return out, len(set(tracker.getJobIdsForGroup(None)) - before)


def _jsonl_lines(path):
    """Non-empty lines of a gzipped JSONL file or directory sink."""
    files = [path] if os.path.isfile(path) else [
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".json.gz")
    ]
    n = 0
    for f in files:
        with gzip.open(f, "rt") as fh:
            n += sum(1 for line in fh if line.strip())
    return n


def test_ingest_commands_launch_only_the_jobs_their_outputs_need(
    spark, tmp_path, capsys
):
    """extract launches 1 Spark job (the write) and process at most 4 (the
    translation map's collect and the write). Forty files put the
    `dir/*.json*` glob over the 32-path parallel listing threshold, where
    Spark listed the files again in a job of its own; with the read-back
    counts and the per-group translation tables, the parent commit
    launched 4 and 18 jobs here."""
    land = tmp_path / "landing"
    land.mkdir()
    docs = fixtures()
    for i in range(40):
        doc = copy.deepcopy(docs[i % len(docs)])
        doc["queryId"] = f"20240101_080000_{i:05d}_copy0"
        with gzip.open(land / f"q{i:03d}.json.gz", "wt") as f:
            json.dump(doc, f)
    summary, clean = str(tmp_path / "summary"), str(tmp_path / "clean")

    rc, jobs = _jobs(spark, lambda: main(["extract", "-i", str(land), "-o", summary]))
    assert rc == 0 and jobs == 1, f"extract launched {jobs} jobs"
    rc, jobs = _jobs(
        spark, lambda: main(["process", "-i", summary, "-o", clean, *PROCESS_FLAGS])
    )
    assert rc == 0 and jobs <= 4, f"process launched {jobs} jobs"
    assert "processed 38 summaries" in capsys.readouterr().out


def _persistent_rdds(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_process_leaves_no_cached_data(spark, corpus, tmp_path, capsys):
    """The translation map is collected, not cached: process adds nothing
    to the session's persistent RDDs. (An earlier test's checkpoint that
    the cleaner drops meanwhile may leave fewer.)"""
    summary, clean = str(tmp_path / "summary"), str(tmp_path / "clean")
    main(["extract", "-i", str(corpus), "-o", summary])
    before = _persistent_rdds(spark)
    assert main(["process", "-i", summary, "-o", clean, "--rename-user"]) == 0
    assert _persistent_rdds(spark) <= before
    capsys.readouterr()


def test_analyze_leaves_no_cached_data(spark, corpus, tmp_path, capsys):
    """analyze unpersists the silver tables build_silver caches: it adds
    nothing to the session's persistent RDDs."""
    summary = str(tmp_path / "summary")
    main(["extract", "-i", str(corpus), "-o", summary])
    before = _persistent_rdds(spark)
    assert main(["analyze", "-i", summary, "-o", str(tmp_path / "r.json")]) == 0
    assert _persistent_rdds(spark) <= before
    capsys.readouterr()


def test_analyze_over_an_empty_landing_directory(spark, tmp_path, capsys):
    """A corpus without scan operators renders no charts and no errors:
    the selectivity histograms have no scan wall to share out, so they are
    skipped like every other chart without rows, not failed with
    DIVIDE_BY_ZERO."""
    land, summary = tmp_path / "landing", str(tmp_path / "summary")
    land.mkdir()
    assert main(["extract", "-i", str(land), "-o", summary]) == 0
    out = str(tmp_path / "r.json")
    assert main(["analyze", "-i", summary, "-o", out]) == 0
    assert f"wrote {out}: 0 charts, 0 errors" in capsys.readouterr().out


@pytest.fixture(scope="module")
def junk_corpus(tmp_path_factory):
    """The fixture corpus plus one file of each kind extract skips or
    analyze drops: non-JSON, a missing stats key, Varada-internal, FAILED."""
    d = tmp_path_factory.mktemp("cli_junk_corpus")
    missing = make_queryinfo("20240105_080000_00001_junk0")
    del missing["queryStats"]["elapsedTime"]
    junk = [
        missing,
        make_queryinfo("20240105_080000_00002_junk0", internal=True),
        make_queryinfo("20240105_080000_00003_junk0", state="FAILED"),
    ]
    for i, doc in enumerate(fixtures() + junk):
        with gzip.open(d / f"q{i:03d}.json.gz", "wt") as f:
            json.dump(doc, f)
    with gzip.open(d / "truncated.json.gz", "wt") as f:
        f.write("{truncated: not json")
    return d


@pytest.mark.parametrize(
    "sink, limit",
    [("summary", []), ("summary.jsonl.gz", []), ("summary", ["-l", "5"])],
)
def test_printed_counts_are_the_written_lines(
    spark, junk_corpus, tmp_path, capsys, sink, limit
):
    """"extracted N" and "processed N" count the records each command wrote,
    for both sinks and under --limit."""
    summary = str(tmp_path / sink)
    clean = str(tmp_path / sink.replace("summary", "clean"))
    assert main(["extract", "-i", str(junk_corpus), "-o", summary, *limit]) == 0
    extracted = capsys.readouterr().out
    assert main(["process", "-i", summary, "-o", clean, *limit, *PROCESS_FLAGS]) == 0
    processed = capsys.readouterr().out
    n = 5 if limit else 14  # the 13 fixture summaries and the FAILED one
    assert f"extracted {n} summaries" in extracted
    assert f"processed {n} summaries" in processed
    assert _jsonl_lines(summary) == _jsonl_lines(clean) == n
