"""Analyzer outputs -> self-contained report (HTML / zip / JSON).

Mirrors the reference's report contract (analyze.py:1241-1292): one chart
entry per analyzer carrying {id, title, description (the analyzer
docstring), data}, a `structure` block with the corpus metrics
(analyze.py:1177-1193, 1274-1278), per-chart error tolerance with an
opt-in --fail-on-error (analyze.py:1269-1272), "not enough data" charts
skipped (analyze.py:1250-1252), and an `.html` / `.zip` (deflated
output.html member) / `.json` sink (analyze.py:1284-1292).

The reference renders through Bokeh; Bokeh isn't available in this
environment and is presentation-only, so the HTML here embeds the same
chart payloads as JSON and renders them with a small inline script
(tables + SVG bars/pies). The DATA contract — ids, titles, descriptions,
rows — is the parity surface.

Scale: every analyzer output is a small aggregate or a capped projection;
`scatter_limit` bounds row-level chart payloads before collect so the
driver never materializes an unbounded result (the reference materializes
everything, analyze.py:1229).
"""

from __future__ import annotations

import json
import zipfile
from concurrent.futures import ThreadPoolExecutor
from typing import Any

from pyspark.sql import DataFrame

from presto_workload_analyzer_spark.pipeline import ANALYZERS, collect_metrics, run_analyzers

# analyzers whose output is one row per query/operator (scatter charts) —
# these get a row cap before collect
_SCATTER = {
    "peak_mem_by_query",
    "input_size_by_query",
    "elapsed_time_by_query",
    "output_vs_input",
    "scheduled_vs_input",
    "elapsed_vs_input",
    "filter_selectivity_1",
    "walltime_vs_selectivity",
    "inputrows_vs_selectivity",
    "joins_sides",
    "joins_selectivity",
    "task_stage_stats",
}


# pie-style analyzers: labels are shortened for display and a categorical
# palette is attached (colorblind-safe under --high-contrast-mode)
_PIES = {
    "queries_by_user",
    "scheduled_by_user",
    "scheduled_by_update",
    "input_by_user",
    "operator_wall",
    "wall_by_table_scan",
    "input_size_by_table_scan",
    "operator_input",
    "operator_rows",
}

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


def _chart_payload(
    name: str, df: DataFrame, scatter_limit: int, high_contrast: bool = False
) -> dict[str, Any] | None:
    if name in _SCATTER:
        df = df.limit(scatter_limit)
    rows = df.collect()
    if not rows:
        return None  # "not enough data" -> no chart (analyze.py:1250-1252)
    fn, _ = ANALYZERS[name]
    data = [[_json_safe(v) for v in row] for row in rows]
    payload: dict[str, Any] = {
        "id": name,
        "title": name.replace("_", " "),
        "description": (fn.__doc__ or "").strip(),
        "columns": df.columns,
        "data": data,
    }
    if name in _PIES:
        label_ix = df.columns.index("label") if "label" in df.columns else 0
        for row in data:
            row[label_ix] = shorten(row[label_ix])
        payload["palette"] = _PALETTE_HIGH_CONTRAST if high_contrast else _PALETTE_DEFAULT
    return payload


def _json_safe(v: Any) -> Any:
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


# driver threads collecting charts; measured neutral on warm local[32]
_CHART_THREADS = 8


def build_report(
    silver: dict[str, DataFrame],
    only: list[str] | None = None,
    scatter_limit: int = 50_000,
    fail_on_error: bool = False,
    high_contrast: bool = False,
) -> dict[str, Any]:
    """Run analyzers + metrics, return the report document (pure data).

    Charts are collected from a pool of driver threads (Spark schedules
    jobs from several threads): on a busy cluster, per-job queueing latency
    dominates small aggregates, and overlapping requests hides it. Output
    ordering stays deterministic (registry order) regardless of completion
    order.
    """
    errors: dict[str, str] = {}
    outputs = run_analyzers(silver, only=only)
    results: dict[str, Any] = {}
    with ThreadPoolExecutor(max_workers=_CHART_THREADS) as pool:
        futures = {
            name: pool.submit(_chart_payload, name, df, scatter_limit, high_contrast)
            for name, df in outputs.items()
        }
        for name, fut in futures.items():
            try:
                results[name] = fut.result()
            except Exception as e:  # noqa: BLE001 — per-chart tolerance, analyze.py:1269-1272
                if fail_on_error:
                    raise
                errors[name] = f"{type(e).__name__}: {e}"

    charts = [
        results[name]
        for name in outputs
        if name in results and results[name] is not None
    ]
    metrics_row = collect_metrics(silver).collect()[0]
    return {
        "structure": {"metrics": metrics_row.asDict()},
        "charts": charts,
        "errors": errors,
    }


_HTML_TEMPLATE = """<!DOCTYPE html>
<html><head><meta charset="utf-8"><title>Workload Analysis</title>
<style>
 body {{ font-family: sans-serif; margin: 2em; }}
 .metrics td {{ padding: 2px 12px; }}
 .chart {{ margin: 2em 0; border-top: 1px solid #ccc; padding-top: 1em; }}
 .chart table {{ border-collapse: collapse; }}
 .chart td, .chart th {{ border: 1px solid #ddd; padding: 2px 8px; font-size: 12px; }}
 .desc {{ color: #555; max-width: 60em; white-space: pre-wrap; }}
</style></head>
<body>
<h1>Presto workload analysis</h1>
<div id="report"></div>
<script id="payload" type="application/json">{payload}</script>
<script>
const doc = JSON.parse(document.getElementById('payload').textContent);
const root = document.getElementById('report');
const m = doc.structure.metrics;
let h = '<h2>Summary</h2><table class="metrics">';
for (const [k, v] of Object.entries(m)) h += `<tr><td>${{k}}</td><td>${{v}}</td></tr>`;
h += '</table>';
for (const c of doc.charts) {{
  h += `<div class="chart"><h2 id="${{c.id}}">${{c.title}}</h2>`;
  h += `<div class="desc">${{c.description}}</div>`;
  const shown = c.data.slice(0, 200);
  h += '<table><tr>' + c.columns.map(x => `<th>${{x}}</th>`).join('') + '</tr>';
  for (const row of shown) h += '<tr>' + row.map(x => `<td>${{x}}</td>`).join('') + '</tr>';
  h += '</table>';
  if (c.data.length > 200) h += `<div class="desc">… ${{c.data.length - 200}} more rows in payload</div>`;
  h += '</div>';
}}
root.innerHTML = h;
</script>
</body></html>
"""


def render_html(report: dict[str, Any]) -> str:
    payload = json.dumps(report)
    # </script> inside JSON strings would break the inline block
    payload = payload.replace("</", "<\\/")
    return _HTML_TEMPLATE.format(payload=payload)


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
    from presto_workload_analyzer_spark.report.bokeh_compat import script_blocks

    placeholder = "<!-- PLACEHOLDER_FOR_BOKEH_JSONS -->"
    return _TEMPLATE_CONTRACT_PAGE.replace(
        placeholder, "\n".join(script_blocks(report))
    )


def write_report(report: dict[str, Any], output_path: str) -> None:
    """Sink: .zip (deflated output.html member), .html, or .json.

    Reference analyze.py:1284-1292.
    """
    if output_path.endswith(".zip"):
        with zipfile.ZipFile(output_path, "w", zipfile.ZIP_DEFLATED) as z:
            z.writestr("output.html", render_html(report))
    elif output_path.endswith(".json"):
        with open(output_path, "w") as f:
            json.dump(report, f, indent=1)
    else:
        with open(output_path, "w") as f:
            f.write(render_html(report))


__all__ = [
    "build_report",
    "render_html",
    "render_html_template_contract",
    "write_report",
]
