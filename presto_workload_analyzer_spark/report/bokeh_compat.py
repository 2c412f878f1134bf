"""Bokeh-compatible report rendering (reference output contract).

The reference injects one ``<script type="application/json" id="<chart_id>">``
block per chart — a Bokeh ``json_item`` payload — plus a ``structure``
script listing ``{metrics, charts: [{title, description, id}]}`` into
``output.template.html`` (analyze.py:1241-1292, output.template.html:27-48).
A browser-side loop then calls ``Bokeh.embed.embed_item`` per block.

Bokeh is an optional dependency here (not in the build container), so this
module has two backends behind one contract:

* bokeh importable — each chart payload (id/title/description/columns/data,
  from report.emitter.build_report) is turned into a real Bokeh figure via
  a generic mark mapping (categorical x -> vbar, else line; 'All the rest'
  pies -> vbar of shares; scatters -> circle) and serialized with
  ``bokeh.embed.json_item``, sorted-references quirk included
  (analyze.py:1254) so output is deterministic like the reference's.
* bokeh absent — the SAME script-block structure is emitted with the raw
  chart payload under a ``"fallback"`` key (no ``"doc"``), which the
  fallback HTML renders as tables. Reference-template consumers see
  identical ids/titles/descriptions either way; only the renderer differs.

Either way the per-chart data is bit-identical to the engine's analyzer
output — the charts are presentation over the oracle-checked frames.
"""

from __future__ import annotations

import json
from typing import Any


def script_json(obj: Any, **kw: Any) -> str:
    """`obj` as JSON to inline in a ``<script>`` block. Every '<' is escaped
    as \\u003c, so no string in it can close the block or open a comment;
    JSON.parse (and a JS literal) reads the same document back."""
    return json.dumps(obj, **kw).replace("<", "\\u003c")


def bokeh_available() -> bool:
    try:
        import bokeh  # noqa: F401

        return True
    except ImportError:
        return False


def _as_source(chart: dict[str, Any]) -> dict[str, list]:
    cols = chart["columns"]
    return {c: [row[i] for row in chart["data"]] for i, c in enumerate(cols)}


def _build_figure(chart: dict[str, Any]):
    """Generic chart-payload -> Bokeh figure mapping (bokeh importable)."""
    from bokeh.plotting import figure

    cols = chart["columns"]
    src = _as_source(chart)
    x_col, y_col = cols[0], cols[1] if len(cols) > 1 else cols[0]
    xs, ys = src[x_col], src[y_col]
    categorical = any(isinstance(v, str) for v in xs)
    if categorical:
        p = figure(
            title=chart["title"],
            x_range=[str(v) for v in xs],
            height=400,
            width=800,
        )
        p.vbar(x=[str(v) for v in xs], top=ys, width=0.8)
    elif len(chart["data"]) > 500:  # scatter-class payloads
        p = figure(title=chart["title"], height=400, width=800)
        p.scatter(xs, ys, size=3)
    else:
        p = figure(title=chart["title"], height=400, width=800)
        p.line(xs, ys)
    p.xaxis.axis_label = x_col
    p.yaxis.axis_label = y_col
    return p


def chart_json_item(chart: dict[str, Any]) -> dict[str, Any]:
    """One chart payload -> the reference's per-chart script-block document.

    With bokeh: ``{"doc": <bokeh json_item doc>}`` exactly like
    analyze.py:1253-1256 (references sorted for deterministic output).
    Without: ``{"fallback": <chart payload>}`` under the same block id.
    """
    if bokeh_available():
        from bokeh.embed import json_item

        item = json_item(model=_build_figure(chart), target=chart["id"])
        roots = item["doc"].get("roots")
        if isinstance(roots, dict) and "references" in roots:
            # bokeh 2.x doc shape: sort references like analyze.py:1254 so
            # identical data renders to identical bytes
            roots["references"].sort(key=lambda r: (r["type"], r["id"]))
        # bokeh 3.x: doc["roots"] is a list of serialized models with
        # freshly-generated ids — no stable sort key exists, so repeated
        # renders are NOT byte-identical there (data content still is)
        return {"doc": item["doc"]}
    return {"fallback": chart}


def script_blocks(report: dict[str, Any]) -> list[str]:
    """The reference template's injected blocks: one JSON script per chart
    + the closing ``structure`` script (analyze.py:1257-1278)."""
    scripts = []
    structure_charts = []
    for chart in report["charts"]:
        item = chart_json_item(chart)
        scripts.append(
            '<script type="application/json" id="{}">\n{}\n</script>\n'.format(
                chart["id"], script_json(item)
            )
        )
        structure_charts.append(
            {
                "title": chart["title"],
                "description": chart["description"],
                "id": chart["id"],
            }
        )
    structure = {
        "metrics": report["structure"]["metrics"],
        "charts": structure_charts,
    }
    scripts.append(
        "<script>\nconst structure = {}</script>".format(
            script_json(structure, indent=4)
        )
    )
    return scripts


__all__ = ["bokeh_available", "chart_json_item", "script_blocks", "script_json"]
