"""CLI parity with the reference's extract.py / analyze.py entry points.

  python -m presto_workload_analyzer_spark.cli extract -i <queryinfo_dir> -o <summary_dir>
  python -m presto_workload_analyzer_spark.cli analyze -i <summary> -o output.html|.zip|.json
      [--filter NAME] [--limit N] [--fail-on-error] [--scatter-limit N]

`extract` mirrors reference extract.py:172-213 (dir of *.json/*.json.gz ->
gzipped JSONL summary); `analyze` mirrors analyze.py:1196-1292 (summary ->
report with all analyzers, --filter single-chart mode, --limit row cap,
--fail-on-error strictness).
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import Observation, functions as F

from presto_workload_analyzer_spark.pipeline import ANALYZERS, build_silver
from presto_workload_analyzer_spark.report.emitter import (
    build_report,
    render_html,
    render_html_template_contract,
    write_report,
)
from presto_workload_analyzer_spark.session import get_spark
from presto_workload_analyzer_spark.sources.queryinfo import (
    extract_queryinfo,
    read_summary_jsonl,
    write_summary_jsonl,
    write_summary_jsonl_file,
)


def _write_summary(df, output: str, single_file: bool) -> int:
    """Directory sink by default; ONE reference-compatible .jsonl.gz file
    when asked (--single-file) or when the output path says so — the
    reference invocation style is `-o summary.jsonl.gz` (extract.py:189).

    Returns the number of summaries written, observed during the write:
    the non-null query_ids, exactly the rows `read_summary_jsonl` keeps."""
    written = Observation()
    df = df.observe(written, F.count("query_id").alias("n"))
    if single_file or output.endswith(".jsonl.gz"):
        write_summary_jsonl_file(df, output)
    else:
        write_summary_jsonl(df, output)
    return written.get["n"]


def cmd_extract(args: argparse.Namespace) -> int:
    spark = get_spark(app_name="pwa-extract")
    df = extract_queryinfo(spark, args.input_dir)
    if args.limit:
        df = df.limit(args.limit)
    n = _write_summary(df, args.output, args.single_file)
    print(f"extracted {n} summaries -> {args.output}")
    return 0


def cmd_analyze(args: argparse.Namespace) -> int:
    if args.template_contract and not args.output.endswith((".html", ".zip")):
        print(
            "--template-contract requires an .html or .zip output "
            f"(got {args.output!r})",
            file=sys.stderr,
        )
        return 2
    if args.filter and args.filter not in ANALYZERS:
        print(
            f"unknown analyzer {args.filter!r}; available: {', '.join(sorted(ANALYZERS))}",
            file=sys.stderr,
        )
        return 2
    spark = get_spark(app_name="pwa-analyze")
    summary = read_summary_jsonl(spark, args.input)
    if args.limit:
        summary = summary.limit(args.limit)
    persisted = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    silver = build_silver(summary)
    try:
        report = build_report(
            silver,
            only=[args.filter] if args.filter else None,
            scatter_limit=args.scatter_limit,
            fail_on_error=args.fail_on_error,
            high_contrast=args.high_contrast_mode,
        )
        if args.template_contract:
            write_report(report, args.output, render_html_template_contract)
        else:
            write_report(report, args.output)
    finally:
        # leave the session's persistent RDDs as found: the silver caches
        # (dependents first: unpersisting `queries` first would rebuild the
        # caches planned over it), then the analyzers' checkpoints, which
        # only the report's dead frames reference
        for name in ("plan_nodes", "operators", "queries"):
            silver[name].unpersist(blocking=False)
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        for rdd_id in set(rdds.keySet()) - persisted:
            rdds.get(rdd_id).unpersist(False)
    n_charts = len(report["charts"])
    n_err = len(report["errors"])
    print(f"wrote {args.output}: {n_charts} charts, {n_err} errors")
    return 0


def cmd_process(args: argparse.Namespace) -> int:
    from presto_workload_analyzer_spark.privacy import process_summary

    spark = get_spark(app_name="pwa-process")
    df = read_summary_jsonl(spark, args.input)
    if args.limit:
        df = df.limit(args.limit)
    out, tables = process_summary(
        df,
        filter_schema=args.filter_schema,
        remove_query=args.remove_query,
        rename_schemas=args.rename_schemas,
        rename_catalogs=args.rename_catalogs,
        remove_locations=args.remove_locations,
        rename_user=args.rename_user,
        rename_partitions=args.rename_partitions,
    )
    n = _write_summary(out, args.output, args.single_file)
    print(f"processed {n} summaries -> {args.output}")
    # translation tables (reference jsonl_process.py:186-194)
    for group, table in tables.items():
        print(f"{group.capitalize()}s translation table:")
        for name, new_name in sorted(table.items(), key=lambda kv: kv[1]):
            print(f"  {name!r}: {new_name!r}")
    return 0


def cmd_collect(args: argparse.Namespace) -> int:
    from presto_workload_analyzer_spark.sources.collector import Client, collect

    client = Client(
        username=args.username,
        password=args.password,
        certificate_verification=args.certificate_verification,
        username_request_header=args.username_request_header,
    )
    n = collect(
        coordinator=args.coordinator,
        query_endpoint=args.query_endpoint,
        output_dir=args.output_dir,
        delay=args.delay,
        loop=args.loop,
        loop_delay=args.loop_delay,
        client=client,
    )
    print(f"collected {n} queries -> {args.output_dir}")
    return 0


def _str_to_bool(v: str) -> bool:
    return str(v).lower() in ("yes", "true", "t", "y", "1")


def cmd_curation_report(args: "argparse.Namespace") -> int:
    """Beyond-reference: one HTML/zip/json document summarizing the
    training-data-pipeline surface (dedup structure, quality/perplexity
    profiles, mixing allocations, retrieval health, sketch audits) over
    a corpus directory — every chart an oracle-gated driver query."""
    from presto_workload_analyzer_spark.report.curation import (
        CURATION_CHARTS,
        build_curation_report,
    )

    spark = get_spark(app_name="pwa-curation-report")
    only = None
    if args.filter:
        if args.filter not in CURATION_CHARTS:
            print(
                f"unknown chart {args.filter!r}; available: "
                + ", ".join(sorted(CURATION_CHARTS)),
                file=sys.stderr,
            )
            return 2
        only = [args.filter]
    report = build_curation_report(
        spark, args.data_dir, only=only, fail_on_error=args.fail_on_error
    )
    write_report(
        report, args.output, lambda r: render_html(r, r["structure"]["title"]), "curation.html"
    )
    print(f"wrote {args.output} ({len(report['charts'])} charts)")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="presto_workload_analyzer_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pc = sub.add_parser("collect", help="coordinator REST -> QueryInfo landing dir")
    pc.add_argument("-c", "--coordinator", default="http://localhost:8080")
    pc.add_argument("-e", "--query-endpoint", default="/v1/query")
    pc.add_argument("-u", "--username", default=None)
    pc.add_argument("--username-request-header", default=None)
    pc.add_argument("-p", "--password", default=None)
    pc.add_argument("--certificate-verification", default=True, type=_str_to_bool)
    pc.add_argument("-o", "--output-dir", default="JSONs")
    pc.add_argument("-d", "--delay", default=0.1, type=float)
    pc.add_argument("--loop", action="store_true")
    pc.add_argument("--loop-delay", type=float, default=1.0)
    pc.set_defaults(fn=cmd_collect)

    pe = sub.add_parser("extract", help="QueryInfo dir -> summary JSONL")
    pe.add_argument("-i", "--input-dir", required=True)
    pe.add_argument("-o", "--output", required=True)
    pe.add_argument("-l", "--limit", type=int, default=None)
    pe.add_argument(
        "--single-file",
        action="store_true",
        help="write ONE summary.jsonl.gz file (reference-compatible) instead "
        "of a Spark directory sink; implied when -o ends with .jsonl.gz",
    )
    pe.set_defaults(fn=cmd_extract)

    pa = sub.add_parser("analyze", help="summary JSONL -> report")
    pa.add_argument("-i", "--input", required=True)
    pa.add_argument("-o", "--output", required=True)
    pa.add_argument("--filter", default=None, help="emit a single analyzer")
    pa.add_argument("-l", "--limit", type=int, default=None)
    pa.add_argument("--fail-on-error", action="store_true")
    pa.add_argument("--high-contrast-mode", action="store_true")
    pa.add_argument("--scatter-limit", type=int, default=50_000)
    pa.add_argument(
        "--template-contract",
        action="store_true",
        help="render .html via the reference output.template.html contract "
        "(per-chart json_item script blocks; bokeh-backed when importable)",
    )
    pa.set_defaults(fn=cmd_analyze)

    pp = sub.add_parser("process", help="summary JSONL -> filtered/obfuscated JSONL")
    pp.add_argument("-i", "--input", required=True)
    pp.add_argument("-o", "--output", required=True)
    pp.add_argument("-l", "--limit", type=int, default=None)
    pp.add_argument("--filter-schema", default=None)
    pp.add_argument("--remove-query", action="store_true")
    pp.add_argument("--rename-schemas", action="store_true")
    pp.add_argument("--rename-catalogs", action="store_true")
    pp.add_argument("--remove-locations", action="store_true")
    pp.add_argument("--rename-user", action="store_true")
    pp.add_argument("--rename-partitions", action="store_true")
    pp.add_argument("--single-file", action="store_true")
    pp.set_defaults(fn=cmd_process)

    pr = sub.add_parser(
        "curation-report",
        help="corpus parquet dir -> training-data curation report (beyond-reference)",
    )
    pr.add_argument("-d", "--data-dir", required=True,
                    help="directory holding documents.parquet / embeddings.parquet")
    pr.add_argument("-o", "--output", required=True,
                    help=".html, .zip or .json by extension")
    pr.add_argument("--filter", default=None, help="emit a single chart")
    pr.add_argument("--fail-on-error", action="store_true")
    pr.set_defaults(fn=cmd_curation_report)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
