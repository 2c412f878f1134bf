"""Curation report: the training-data-pipeline counterpart of the
workload report (report/emitter.py) — one self-contained HTML document
summarizing what the extension surface says about a corpus: dedup
structure and method agreement, quality and perplexity profiles,
mixing allocations, retrieval health, and sketch-accuracy audits.

This is BEYOND-REFERENCE surface (the reference analyzes Presto
workload logs only); it reuses the engine's registered driver queries
as chart sources — every chart here is an oracle-verified query, so the
report can never drift from the gated semantics. Charts are built by the
emitter's chart_entry, and the page and sink are the emitter's
render_html and write_report (zip member `curation.html`).

At scale every chart source is an aggregate-grain query (per-source,
per-threshold, per-method rows — never corpus grain); the report build
is a handful of small collects over plans Catalyst already prunes.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import SparkSession, functions as F

from presto_workload_analyzer_spark import driver_queries
from presto_workload_analyzer_spark.report.emitter import chart_entry
from presto_workload_analyzer_spark.sources import read_table

# name -> (section, row cap). Names resolve through driver_queries.queries(),
# so each chart is an oracle-gated query; caps bound the payload for the
# few pair/doc-grain sources.
CURATION_CHARTS: dict[str, tuple[str, int]] = {
    # corpus shape
    "x121_hll_distinct": ("corpus", 50),
    "x110_heaps_law": ("corpus", 500),
    "x55_zipf_slope": ("corpus", 200),
    "x89_char_entropy": ("corpus", 200),
    # dedup structure + method health
    "x42_dup_ngram_fraction": ("dedup", 500),
    "x60_cross_source_dups": ("dedup", 1000),
    "x127_dedup_method_venn": ("dedup", 50),
    "x122_dedup_threshold_curve": ("dedup", 200),
    "x81_lsh_dedup_eval": ("dedup", 50),
    # quality + language-model profile
    "x38_source_triage": ("quality", 200),
    "xs7_heldout_perplexity": ("quality", 200),
    # mixing allocations
    "xs6_unimax_mix": ("mixing", 200),
    "xs9_temperature_mix": ("mixing", 200),
    "xs3_dsir_mix": ("mixing", 200),
    # retrieval / serving health
    "x44_ann_recall": ("retrieval", 200),
    "x106_rrf_hybrid_search": ("retrieval", 200),
    # engine-ops audits
    "x97_skew_audit": ("audits", 200),
    "x131_bloom_fpr_audit": ("audits", 50),
    "x132_cms_error_profile": ("audits", 200),
}

_SECTION_ORDER = ("corpus", "dedup", "quality", "mixing", "retrieval", "audits")


def build_curation_report(
    spark: SparkSession,
    sf_dir: str,
    only: list[str] | None = None,
    fail_on_error: bool = False,
) -> dict[str, Any]:
    """Run the curation chart sources over the tables in `sf_dir` and
    return the report document (pure data, emitter-shaped):
    {structure: {title, metrics}, charts: [...], errors: {...}}."""
    registry = driver_queries.queries()
    names = [n for n in CURATION_CHARTS if only is None or n in only]
    errors: dict[str, str] = {}
    charts: list[dict[str, Any]] = []
    for section in _SECTION_ORDER:
        for name in names:
            sec, cap = CURATION_CHARTS[name]
            if sec != section:
                continue
            try:
                # inside the try so a CURATION_CHARTS entry missing from
                # the registry degrades to a per-chart error, not a
                # report-killing KeyError
                fn = registry[name]
                # coalesce(1): one job; a bare limit collects through
                # take(), a job per partition batch
                df = fn(spark, sf_dir).limit(cap).coalesce(1)
                rows = df.collect()
                if rows:
                    title = f"[{section}] " + name.replace("_", " ")
                    charts.append(chart_entry(name, title, fn, df.columns, rows))
            except Exception as e:  # noqa: BLE001 — per-chart tolerance
                if fail_on_error:
                    raise
                errors[name] = f"{type(e).__name__}: {e}"

    docs = read_table(spark, f"{sf_dir}/documents.parquet")
    emb = read_table(spark, f"{sf_dir}/embeddings.parquet")
    m = docs.agg(
        F.count(F.lit(1)).alias("n_documents"),
        F.sum(F.size(F.split(F.trim("text"), r"\s+"))).alias("n_tokens"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_languages"),
    ).collect()[0]
    metrics = {
        "n_documents": int(m["n_documents"]),
        "n_tokens": int(m["n_tokens"]),
        "n_sources": int(m["n_sources"]),
        "n_languages": int(m["n_languages"]),
        "n_embeddings": emb.count(),
    }
    return {
        "structure": {"title": "Corpus curation report", "metrics": metrics},
        "charts": charts,
        "errors": errors,
    }
