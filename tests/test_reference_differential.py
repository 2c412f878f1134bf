"""Differential test: run the ACTUAL reference implementation on the fixture
corpus and assert numeric equality with our Spark rebuild, analyzer by
analyzer.

The reference (/root/reference/analyzer/{extract,analyze}.py) is runnable
single-process Python except for its presentation deps (bokeh) and logging
deps (logbook, tqdm), none of which touch the numbers. We import both
modules with recording stubs injected for those deps, feed the SAME
miniature QueryInfo corpus (tests/queryinfo_fixtures.py) through
extract.summary -> the @run analyzers, capture the data each analyzer hands
to its figure primitives (vbar / circle / scatter / wedge /
ColumnDataSource), and compare against the rows our analyzers produce from
build_silver over the same documents.

This closes the gap between "matches my reading of analyze.py" (the
hand-computed golden_report.json) and "matches analyze.py" (round-7 verdict
item 7). The reference files are read, never modified.
"""

from __future__ import annotations

import datetime
import importlib.util
import json
import math
import sys
import types
from unittest.mock import MagicMock

import pytest

from presto_workload_analyzer_spark.operators.analyzers import collect_metrics
from presto_workload_analyzer_spark.pipeline import build_silver, run_analyzers
from presto_workload_analyzer_spark.sources.queryinfo import extract_queryinfo

import queryinfo_fixtures as QF

REF_DIR = "/root/reference/analyzer"


# --------------------------------------------------------------------------
# Stub layer: just enough bokeh/logbook/tqdm surface for analyze.py's
# numeric code to run; figures are MagicMocks (recording every call) and
# ColumnDataSource is a real class capturing the data dict.
# --------------------------------------------------------------------------


class FakeCDS:
    def __init__(self, data=None, **kw):
        self.data = dict(data or {})


class _AnyInit:
    def __init__(self, *a, **k):
        pass


class _Palette:
    # bokeh palettes map int k -> list of k colors (k in 3..20); the
    # analyzers only slice the list, so any k works here
    def __getitem__(self, k):
        return ["#%06x" % i for i in range(int(k))]


class _Logger:
    def __init__(self, *a, **k):
        pass

    def __getattr__(self, name):
        return lambda *a, **k: None


def _stub_modules() -> dict[str, types.ModuleType]:
    logbook = types.ModuleType("logbook")
    logbook.StreamHandler = type(
        "StreamHandler", (), {"__init__": lambda s, *a, **k: None, "push_application": lambda s: None}
    )
    logbook.Logger = _Logger

    tqdm_mod = types.ModuleType("tqdm")
    tqdm_mod.tqdm = lambda it=None, **k: it

    bokeh = types.ModuleType("bokeh")
    embed = types.ModuleType("bokeh.embed")
    embed.json_item = lambda **k: {}
    models = types.ModuleType("bokeh.models")
    models.ColumnDataSource = FakeCDS
    for name in ("TapTool", "Span", "Slope", "LabelSet"):
        setattr(models, name, type(name, (_AnyInit,), {}))
    models.ranges = types.SimpleNamespace()
    callbacks = types.ModuleType("bokeh.models.callbacks")
    callbacks.CustomJS = type("CustomJS", (_AnyInit,), {})
    models.callbacks = callbacks
    palettes = types.ModuleType("bokeh.palettes")
    palettes.Category20c = _Palette()
    palettes.Category10 = _Palette()
    palettes.Colorblind = _Palette()
    plotting = types.ModuleType("bokeh.plotting")
    plotting.figure = lambda **k: MagicMock(name="figure")
    plotting.output_file = lambda *a, **k: None
    plotting.save = lambda *a, **k: None
    bokeh.embed, bokeh.models, bokeh.palettes, bokeh.plotting = (
        embed, models, palettes, plotting,
    )
    return {
        "logbook": logbook,
        "tqdm": tqdm_mod,
        "bokeh": bokeh,
        "bokeh.embed": embed,
        "bokeh.models": models,
        "bokeh.models.callbacks": callbacks,
        "bokeh.palettes": palettes,
        "bokeh.plotting": plotting,
    }


# The reference tree is UNTRUSTED public content, and exec_module grants it
# arbitrary code execution inside the test process (ADVICE r8 item 1). Pin
# each file to the sha256 recorded when this test was written: a tampered or
# updated copy fails loudly here instead of silently executing. If the
# reference is ever legitimately refreshed, re-record after reviewing the
# diff.
_REF_SHA256 = {
    "extract.py": "d7b9b99965244373512622d6bb4e8b8442fa2f99418e922b6d87c312a1721682",
    "analyze.py": "38e5d7ef3fdeaa90aba108f87350fe413b83dd1671905adaecbb98975f0e79b2",
}


def _load(path: str, name: str):
    import hashlib
    import os

    base = os.path.basename(path)
    digest = hashlib.sha256(open(path, "rb").read()).hexdigest()
    assert digest == _REF_SHA256[base], (
        f"{path} sha256 {digest} != recorded {_REF_SHA256[base]} — refusing "
        "to exec an unreviewed reference copy (see comment above _REF_SHA256)"
    )
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def ref():
    """(extract, analyze) reference modules, imported with stubs; stubs are
    removed from sys.modules afterwards so no other test sees them."""
    stubs = _stub_modules()
    saved = {k: sys.modules.get(k) for k in stubs}
    sys.modules.update(stubs)
    try:
        extract = _load(f"{REF_DIR}/extract.py", "ref_extract")
        analyze = _load(f"{REF_DIR}/analyze.py", "ref_analyze")
        yield types.SimpleNamespace(extract=extract, analyze=analyze)
    finally:
        for k, v in saved.items():
            if v is None:
                sys.modules.pop(k, None)
            else:
                sys.modules[k] = v


@pytest.fixture(scope="module", params=["golden", "wide"])
def corpus(request):
    """Two corpora: the golden fixture matrix (every analyzer branch), and
    the wide 1215-query / 45-user corpus that pushes the pie kernel through
    its collapse paths (top-20 cap, >0.1% drop, 'All the rest', residual
    push) — shares the small corpus can never trigger."""
    docs = QF.golden_corpus() if request.param == "golden" else QF.wide_corpus()
    return request.param, docs


@pytest.fixture(scope="module")
def ref_stats(ref, corpus):
    """The reference pipeline on the fixture corpus: extract.summary per doc
    (drops varada-internal by returning None, extract.py:124-128), then the
    FAILED filter from analyze.main (analyze.py:1231-1234)."""
    stats = []
    for doc in corpus[1]:
        s = ref.extract.summary(doc)
        if s is None or s["state"] == "FAILED":
            continue
        stats.append(s)
    return stats


@pytest.fixture(scope="module")
def ref_charts(ref, ref_stats):
    """name -> returned figure (MagicMock) or None, for every @run analyzer."""
    out = {}
    for fn in ref.analyze._ANALYZERS:
        out[fn.__name__] = fn(ref_stats)
    return out


@pytest.fixture(scope="module")
def ours(spark, tmp_path_factory, corpus):
    name, docs = corpus
    d = tmp_path_factory.mktemp(f"diff_corpus_{name}")
    for i, doc in enumerate(docs):
        (d / f"q{i:04d}.json").write_text(json.dumps(doc))
    silver = build_silver(extract_queryinfo(spark, str(d)))
    outputs = run_analyzers(silver)
    outputs["collect_metrics"] = collect_metrics(silver["queries"])
    return outputs


# --------------------------------------------------------------------------
# Canonicalization + comparison
# --------------------------------------------------------------------------


def _norm(v):
    if isinstance(v, datetime.datetime):
        return (v.year, v.month, v.day, v.hour, v.minute, v.second)
    if isinstance(v, datetime.date):
        return (v.year, v.month, v.day, 0, 0, 0)
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return float(v)
    if type(v).__module__ == "numpy" and hasattr(v, "item"):
        return _norm(v.item())  # numpy scalar (the ref passes numpy arrays)
    if v is None:
        return 0.0  # parse_size(None) -> None on the ref side, 0 on ours
    # numpy str_ -> str
    return str(v)


def _key(t):
    return tuple("%.6g" % x if isinstance(x, float) else str(x) for x in t)


def assert_same_rows(ref_rows, our_rows, label=""):
    a = sorted((tuple(_norm(v) for v in r) for r in ref_rows), key=_key)
    b = sorted((tuple(_norm(v) for v in r) for r in our_rows), key=_key)
    assert len(a) == len(b), f"{label}: {len(a)} reference rows vs {len(b)} ours\nref={a}\nours={b}"
    for ra, rb in zip(a, b):
        assert len(ra) == len(rb), f"{label}: row arity {ra} vs {rb}"
        for va, vb in zip(ra, rb):
            if isinstance(va, float) and isinstance(vb, float):
                assert math.isclose(va, vb, rel_tol=1e-6, abs_tol=1e-9), (
                    f"{label}: {va} != {vb}\nref row={ra}\nour row={rb}"
                )
            else:
                assert va == vb, f"{label}: {va!r} != {vb!r}\nref row={ra}\nour row={rb}"


def _df_rows(df, cols):
    return [tuple(r[c] for c in cols) for r in df.collect()]


# --- extraction helpers for the recorded reference figures -----------------


def _vbar_series(fig):
    kw = fig.vbar.call_args.kwargs
    return list(zip(kw["x"], kw["top"]))


def _cds_of_call(call_args):
    src = call_args.kwargs.get("source")
    if src is None:  # positional: circle("x", "y", source=...)
        for a in call_args.args:
            if isinstance(a, FakeCDS):
                src = a
    assert isinstance(src, FakeCDS)
    return src.data


def _pie_slices(fig):
    data = _cds_of_call(fig.wedge.call_args)
    return list(zip(data["keys"], data["percent"]))


def _hist_bars(fig):
    data = _cds_of_call(fig.vbar.call_args)
    return list(zip(data["x"], data["top"]))


def _scatter(fig, method, *fields):
    data = _cds_of_call(getattr(fig, method).call_args)
    return list(zip(*(data[f] for f in fields)))


def _none_means_empty(ref_fig, our_df, name):
    """A reference analyzer that bails ('not enough data', returns None)
    must correspond to an empty frame on our side (the emitter drops the
    chart the same way). Returns True when the None case applied."""
    if ref_fig is None:
        assert our_df.count() == 0, f"{name}: reference skipped, ours has rows"
        return True
    return False


# --------------------------------------------------------------------------
# The differential assertions
# --------------------------------------------------------------------------

_VBARS = [
    ("scheduled_by_date", ["bucket", "scheduled_days"], 86400.0),
    ("scheduled_by_hour", ["bucket", "scheduled_hours"], 3600.0),
    ("input_by_date", ["bucket", "input_tb"], None),
    ("input_by_hour", ["bucket", "input_tb"], None),
    ("queries_by_date", ["bucket", "n_queries"], None),
    ("queries_by_hour", ["bucket", "n_queries"], None),
]


@pytest.mark.parametrize("name,cols,_scale", _VBARS, ids=[v[0] for v in _VBARS])
def test_time_series(ref_charts, ours, name, cols, _scale):
    if _none_means_empty(ref_charts[name], ours[name], name):
        return
    # reference divides scheduled_time by day/hour denominators before
    # grouping; ours after — same numbers either way
    assert_same_rows(_vbar_series(ref_charts[name]), _df_rows(ours[name], cols), name)


_PIES = [
    ("queries_by_user",),
    ("scheduled_by_user",),
    ("scheduled_by_update",),
    ("input_by_user",),
    ("operator_wall",),
    ("wall_by_table_scan",),
    ("input_size_by_table_scan",),
    ("operator_input",),
    ("operator_rows",),
]


@pytest.mark.parametrize("name", [p[0] for p in _PIES])
def test_pies(ref_charts, ours, name):
    if _none_means_empty(ref_charts[name], ours[name], name):
        return
    ref_rows = _pie_slices(ref_charts[name])
    assert_same_rows(ref_rows, _df_rows(ours[name], ["label", "pct"]), name)


_HISTS = ["wall_by_selectivity_10", "wall_by_selectivity_100_first_20"]


@pytest.mark.parametrize("name", _HISTS)
def test_selectivity_histograms(ref_charts, ours, name):
    if _none_means_empty(ref_charts[name], ours[name], name):
        return
    ref_rows = _hist_bars(ref_charts[name])
    assert_same_rows(ref_rows, _df_rows(ours[name], ["bin", "wall_pct"]), name)


_SCATTERS = [
    # name, ref glyph method, ref CDS fields, our columns
    ("peak_mem_by_query", "circle", ("date", "peak_mem", "copy_on_tap"),
     ["query_ts", "peak_mem", "query_id"]),
    ("input_size_by_query", "circle", ("date", "input_size", "copy_on_tap"),
     ["query_ts", "input_size", "query_id"]),
    ("elapsed_time_by_query", "circle", ("date", "elapsed_time", "copy_on_tap"),
     ["query_ts", "elapsed_time", "query_id"]),
    ("output_vs_input", "circle", ("input_size", "output_size", "copy_on_tap"),
     ["input_size", "output_size", "query_id"]),
    ("scheduled_vs_input", "circle", ("input_size", "scheduled_time", "copy_on_tap"),
     ["input_size", "scheduled_time", "query_id"]),
    ("elapsed_vs_input", "circle", ("input_size", "elapsed_time", "copy_on_tap"),
     ["input_size", "elapsed_time", "query_id"]),
    ("filter_selectivity_1", "circle", ("input_rows", "output_rows", "copy_on_tap"),
     ["input_rows", "output_rows", "query_id"]),
    ("walltime_vs_selectivity", "scatter",
     ("selectivity", "elapsed_time", "table_name", "copy_on_tap"),
     ["selectivity", "wall", "table_name", "query_id"]),
    ("inputrows_vs_selectivity", "scatter",
     ("selectivity", "input_rows", "table_name", "copy_on_tap"),
     ["selectivity", "input_rows", "table_name", "query_id"]),
    ("joins_sides", "scatter", ("x", "y", "dist", "copy_on_tap"),
     ["build_input_size", "probe_input_size", "distribution_type", "query_id"]),
    ("joins_selectivity", "circle", ("x", "y", "copy_on_tap"),
     ["max_input_rows", "output_rows", "query_id"]),
]


@pytest.mark.parametrize(
    "name,method,fields,cols", _SCATTERS, ids=[s[0] for s in _SCATTERS]
)
def test_scatters(ref_charts, ours, name, method, fields, cols):
    if _none_means_empty(ref_charts[name], ours[name], name):
        return
    ref_rows = _scatter(ref_charts[name], method, *fields)
    assert_same_rows(ref_rows, _df_rows(ours[name], cols), name)


def test_collect_metrics(ref, ref_stats, ours):
    ref_m = ref.analyze.collect_metrics(ref_stats)
    our_m = ours["collect_metrics"].collect()[0].asDict()
    mapping = {
        "days": "n_days",
        "cpu_days": "cpu_days",
        "scheduled_days": "scheduled_days",
        "queries": "n_queries",
        "input_rows": "input_rows",
        "input_TB": "input_tb",
        "users": "n_users",
    }
    for rk, ok in mapping.items():
        assert math.isclose(float(ref_m[rk]), float(our_m[ok]), rel_tol=1e-9), (
            f"{rk}: reference {ref_m[rk]} vs ours ({ok}) {our_m[ok]}"
        )


def test_every_registered_reference_analyzer_is_compared(ref, ref_charts, corpus):
    """If the reference gains/loses analyzers (or the registry drifts), this
    inventory check fails before any silent coverage gap can open."""
    covered = (
        {v[0] for v in _VBARS}
        | {p[0] for p in _PIES}
        | set(_HISTS)
        | {s[0] for s in _SCATTERS}
    )
    registered = {fn.__name__ for fn in ref.analyze._ANALYZERS}
    assert registered == covered
    missing = [n for n, p in ref_charts.items() if p is None]
    if corpus[0] == "golden":
        # the golden corpus feeds every analyzer (none bailed early)
        assert missing == []
    else:
        # the wide corpus has no joins by design; everything else produces
        assert set(missing) <= {"joins_sides", "joins_selectivity"}


def test_wide_corpus_exercises_pie_collapse(ref_charts, corpus):
    """The wide corpus must actually reach the collapse paths: exactly 20
    slices (19 kept + 'All the rest'), with sub-0.1%-share users folded in
    and the percents summing to exactly 100 after the residual push."""
    if corpus[0] != "wide":
        return
    slices = _pie_slices(ref_charts["queries_by_user"])
    assert len(slices) == 20
    assert slices[-1][0] == "All the rest"
    assert abs(sum(p for _, p in slices) - 100.0) < 1e-9
