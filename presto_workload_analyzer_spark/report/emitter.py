"""Analyzer outputs -> self-contained report (HTML / zip / JSON).

Mirrors the reference's report contract (analyze.py:1241-1292): one chart
entry per analyzer carrying {id, title, description (the analyzer
docstring), data}, a `structure` block with the corpus metrics
(analyze.py:1177-1193, 1274-1278), per-chart error tolerance with an
opt-in --fail-on-error (analyze.py:1269-1272), "not enough data" charts
skipped (analyze.py:1250-1252), and an `.html` / `.zip` (deflated
output.html member) / `.json` sink (analyze.py:1284-1292).

The reference renders through Bokeh; Bokeh is optional here and
presentation-only, so the page embeds the chart payloads as JSON and
renders them as tables with a small inline script. The DATA contract —
ids, titles, descriptions, rows — is the parity surface.

This module is the one path from a report document to a page or a file,
for the workload report, its reference-template rendering
(--template-contract) and the curation report (report.curation): one page
(render_html), one escaper for JSON inside <script> (script_json) and one
sink (write_report). Every string in a report is untrusted — user, table
and operator names arrive verbatim from QueryInfo — so the page builds DOM
nodes through textContent and the payload escapes every '<'.

Scale: every analyzer output is a small aggregate or a capped projection;
`scatter_limit` bounds row-level chart payloads before collect so the
driver never materializes an unbounded result (the reference materializes
everything, analyze.py:1229).
"""

from __future__ import annotations

import html
import json
import zipfile
from concurrent.futures import ThreadPoolExecutor
from functools import reduce
from typing import Any, Callable

from pyspark.sql import DataFrame, functions as F

from presto_workload_analyzer_spark.operators.analyzers import collect_metrics
from presto_workload_analyzer_spark.operators.kernels import pie_collapse_by
from presto_workload_analyzer_spark.pipeline import ANALYZERS, PIE, ROWS
from presto_workload_analyzer_spark.report.bokeh_compat import script_blocks, script_json

# default: the reference uses Bokeh Category20; high-contrast: Okabe-Ito
# colorblind-safe palette (the reference's --high-contrast-mode switches to
# Bokeh's Colorblind palette, analyze.py:1211-1215, 1245-1248)
_PALETTE_DEFAULT = [
    "#1f77b4", "#aec7e8", "#ff7f0e", "#ffbb78", "#2ca02c", "#98df8a",
    "#d62728", "#ff9896", "#9467bd", "#c5b0d5", "#8c564b", "#c49c94",
    "#e377c2", "#f7b6d2", "#7f7f7f", "#c7c7c7", "#bcbd22", "#dbdb8d",
    "#17becf", "#9edae5",
]
_PALETTE_HIGH_CONTRAST = [
    "#0072B2", "#E69F00", "#F0E442", "#009E73",
    "#56B4E9", "#D55E00", "#CC79A7", "#000000",
]


def shorten(label: str, max_len: int = 30) -> str:
    """Truncate long chart labels (reference analyze.py:518-521)."""
    if isinstance(label, str) and len(label) > max_len:
        return label[:max_len] + "..."
    return label


def _passes(names: list[str]) -> list[list[str]]:
    """Group charts into passes, one Spark action each: all pies, the charts
    declared over one shared frame (analyzers._over), every other chart
    alone."""
    groups: dict[Any, list[str]] = {}
    for name in names:
        fn, _, kind = ANALYZERS[name]
        groups.setdefault(PIE if kind == PIE else getattr(fn, "base", name), []).append(name)
    return list(groups.values())


def _pass_frame(silver: dict[str, DataFrame], names: list[str]):
    """One pass's frame, and a split of its rows into (name, columns, rows)
    per chart. A lone chart is its own analyzer frame; charts over one base
    are one select of it, a struct per chart (a select per chart would be
    pruned to its own aggregate: one exchange each); pies are the tagged
    union of one such select per base, under one pie_collapse_by.
    """
    charts = [(name, *ANALYZERS[name]) for name in names]
    name, fn, inputs, kind = charts[0]

    def frame(base, inputs):
        return base(*(silver[i] for i in inputs))

    if len(charts) == 1:
        df = frame(fn, inputs)
        return df, lambda rows: [(name, df.columns, rows)]
    if kind == PIE:
        slices: dict[Any, list] = {}
        for n, f, i, _ in charts:
            slices.setdefault((f.base, i), []).append(F.struct(F.lit(n).alias("chart"), *f.columns()))
        tagged = [frame(base, i).select(F.inline(F.array(*s))) for (base, i), s in slices.items()]
        df = pie_collapse_by(reduce(DataFrame.unionByName, tagged), ("chart",))
        return df, lambda rows: [(n, df.columns[1:], [r[1:] for r in rows if r[0] == n]) for n in names]
    df = frame(fn.base, inputs).select(*[F.struct(*f.columns()).alias(n) for n, f, _, _ in charts])
    return df, lambda rows: [(n, df.schema[n].dataType.names, [r[n] for r in rows]) for n in names]


def _chart_payload(
    silver: dict[str, DataFrame], names: list[str], scatter_limit: int, high_contrast: bool = False
) -> dict[str, dict[str, Any] | None]:
    """Run one pass and split its rows into the payloads of the charts
    `names`; a chart with no rows gets None ("not enough data" -> no
    chart, analyze.py:1250-1252)."""
    df, split = _pass_frame(silver, names)
    if ANALYZERS[names[0]][2] == ROWS:
        # coalesce(1): one job; a bare limit collects through take(), which
        # scans 1 partition, then 4, then the rest, a job each
        df = df.limit(scatter_limit).coalesce(1)
    return {
        name: _payload(name, columns, rows, high_contrast) if rows else None
        for name, columns, rows in split(df.collect())
    }


def chart_entry(name: str, title: str, fn: Callable, columns: list[str], rows: list) -> dict[str, Any]:
    """One chart of a report document: its id, title, description (the
    docstring of `fn`, its source), columns and JSON-safe cells."""
    return {
        "id": name,
        "title": title,
        "description": (fn.__doc__ or "").strip(),
        "columns": list(columns),
        "data": [[_json_safe(v) for v in row] for row in rows],
    }


def _payload(name: str, columns: list[str], rows: list, high_contrast: bool) -> dict[str, Any]:
    fn, _, kind = ANALYZERS[name]
    payload = chart_entry(name, name.replace("_", " "), fn, columns, rows)
    if kind == PIE:  # label first, as pie_collapse returns it
        for row in payload["data"]:
            row[0] = shorten(row[0])
        payload["palette"] = _PALETTE_HIGH_CONTRAST if high_contrast else _PALETTE_DEFAULT
    return payload


def _json_safe(v: Any) -> Any:
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


# driver threads running the passes: at local[2], the golden-corpus report
# took 1.23 s (median of 8) with 8 threads against 2.24 s with 1
_CHART_THREADS = 8


def build_report(
    silver: dict[str, DataFrame],
    only: list[str] | None = None,
    scatter_limit: int = 50_000,
    fail_on_error: bool = False,
    high_contrast: bool = False,
) -> dict[str, Any]:
    """Run analyzers + metrics, return the report document (pure data).

    The charts run in about 10 shared passes (_passes) instead of one
    Spark action each. The passes and the metrics are collected from a
    pool of driver threads (Spark schedules jobs from several threads):
    on a busy cluster, per-job queueing latency dominates small
    aggregates, and overlapping requests hides it. Output ordering stays
    deterministic (registry order) regardless of completion order. A
    failed pass fails every chart it serves.
    """
    names = only or list(ANALYZERS)
    errors: dict[str, str] = {}
    results: dict[str, Any] = {}
    with ThreadPoolExecutor(max_workers=_CHART_THREADS) as pool:
        metrics = pool.submit(lambda: collect_metrics(silver["queries"]).collect()[0])
        futures = [
            (group, pool.submit(_chart_payload, silver, group, scatter_limit, high_contrast))
            for group in _passes(names)
        ]
        for group, fut in futures:
            try:
                results.update(fut.result())
            except Exception as e:  # noqa: BLE001 — per-chart tolerance, analyze.py:1269-1272
                if fail_on_error:
                    raise
                errors.update(dict.fromkeys(group, f"{type(e).__name__}: {e}"))
        metrics_row = metrics.result()

    charts = [results[name] for name in names if results.get(name) is not None]
    return {
        "structure": {"metrics": metrics_row.asDict()},
        "charts": charts,
        "errors": errors,
    }


_PAGE = """<!DOCTYPE html>
<html><head><meta charset="utf-8"><title>{title}</title>
<style>
 body {{ font-family: sans-serif; margin: 2em; }}
 .metrics td {{ padding: 2px 12px; }}
 .chart {{ margin: 2em 0; border-top: 1px solid #ccc; padding-top: 1em; }}
 .chart table {{ border-collapse: collapse; }}
 .chart td, .chart th {{ border: 1px solid #ddd; padding: 2px 8px; font-size: 12px; }}
 .desc {{ color: #555; max-width: 60em; white-space: pre-wrap; }}
 .err {{ color: #a00; }}
</style></head>
<body>
<h1>{title}</h1>
<div id="report"></div>
<script id="payload" type="application/json">{payload}</script>
<script>
// Report strings are untrusted: user, table and operator names come from
// QueryInfo, cells from corpus text. Everything renders through
// createElement + textContent; no string becomes markup.
const doc = JSON.parse(document.getElementById('payload').textContent);
const root = document.getElementById('report');
function el(tag, attrs, text) {{
  const n = document.createElement(tag);
  for (const [k, v] of Object.entries(attrs || {{}})) n.setAttribute(k, v);
  if (text !== undefined) n.textContent = String(text);
  return n;
}}
root.appendChild(el('h2', null, 'Summary'));
const mt = el('table', {{class: 'metrics'}});
for (const [k, v] of Object.entries(doc.structure.metrics)) {{
  const tr = el('tr');
  tr.appendChild(el('td', null, k));
  tr.appendChild(el('td', null, v));
  mt.appendChild(tr);
}}
root.appendChild(mt);
for (const c of doc.charts) {{
  const box = el('div', {{class: 'chart'}});
  box.appendChild(el('h2', {{id: c.id}}, c.title));
  box.appendChild(el('div', {{class: 'desc'}}, c.description));
  const tbl = el('table');
  const hr = el('tr');
  for (const x of c.columns) hr.appendChild(el('th', null, x));
  tbl.appendChild(hr);
  for (const row of c.data.slice(0, 200)) {{
    const tr = el('tr');
    for (const x of row) tr.appendChild(el('td', null, x));
    tbl.appendChild(tr);
  }}
  box.appendChild(tbl);
  if (c.data.length > 200)
    box.appendChild(el('div', {{class: 'desc'}},
                       '… ' + (c.data.length - 200) + ' more rows in payload'));
  root.appendChild(box);
}}
for (const [k, v] of Object.entries(doc.errors))
  root.appendChild(el('div', {{class: 'err'}}, k + ': ' + v));
</script>
</body></html>
"""


def render_html(report: dict[str, Any], title: str = "Presto workload analysis") -> str:
    """The report page: the document as a JSON payload block, rendered in
    the browser by a script that builds DOM nodes (_PAGE)."""
    return _PAGE.format(title=html.escape(title), payload=script_json(report))


_TEMPLATE_CONTRACT_PAGE = """<!DOCTYPE html>
<html><head><meta charset="utf-8"><title>Workload Analysis</title></head>
<body>
<h1>Presto workload analysis</h1>
<div id="charts"></div>
<!-- PLACEHOLDER_FOR_BOKEH_JSONS -->
</body></html>
"""


def render_html_template_contract(report: dict[str, Any]) -> str:
    """Reference-template-contract rendering (analyze.py:1241-1292).

    Emits one ``<script type="application/json" id="<chart_id>">`` block per
    chart plus the trailing ``structure`` script, injected at the same
    placeholder the reference template uses — real Bokeh ``json_item`` docs
    when bokeh is importable, the tabular fallback payload otherwise (see
    report.bokeh_compat). A user pointing reference-style template JS at
    this output finds every block under the same id it would find there.
    """
    placeholder = "<!-- PLACEHOLDER_FOR_BOKEH_JSONS -->"
    return _TEMPLATE_CONTRACT_PAGE.replace(
        placeholder, "\n".join(script_blocks(report))
    )


def write_report(
    report: dict[str, Any],
    output_path: str,
    render: Callable[[dict[str, Any]], str] = render_html,
    member: str = "output.html",
) -> None:
    """Sink by extension: .json writes the document, .zip one deflated
    `member` page, anything else the page itself, rendered by `render`.

    Reference analyze.py:1284-1292.
    """
    if output_path.endswith(".json"):
        with open(output_path, "w", encoding="utf-8") as f:
            json.dump(report, f, indent=1)
        return
    page = render(report)
    if output_path.endswith(".zip"):
        with zipfile.ZipFile(output_path, "w", zipfile.ZIP_DEFLATED) as z:
            z.writestr(member, page)
    else:
        with open(output_path, "w", encoding="utf-8") as f:
            f.write(page)


__all__ = [
    "build_report",
    "chart_entry",
    "render_html",
    "render_html_template_contract",
    "write_report",
]
