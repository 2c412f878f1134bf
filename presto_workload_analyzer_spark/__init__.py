"""presto_workload_analyzer_spark — a PySpark-native workload-log analytics engine.

A from-scratch rebuild of the capabilities of varadaio/presto-workload-analyzer
(reference studied read-only at /root/reference; see SURVEY.md) on the Spark
DataFrame/SQL stack: declarative plans, Catalyst optimization, columnar silver
tables, and one cached pass feeding all analyzers — instead of the reference's
28 eager in-memory passes over a list of dicts (reference analyze.py:1229-1241).

Layout:
  functions/   scalar column kernels (unit parsing, timestamps, labels)
  operators/   aggregation kernels (pie collapse, histograms) + the 28 analyzers
  sources/     summary-JSONL and raw-QueryInfo ingest to silver DataFrames
  plans/       recursive plan-tree flatten -> plan_nodes / tasks silver tables
  streaming/   Structured Streaming operators over file-source table streams
  extensions/  LLM-data-pipeline ops: dedup, similarity search, text stats, multimodal
  report/      chart-payload + HTML/zip report emitter
  privacy/     jsonl_process parity: schema filter + obfuscation maps
"""

__version__ = "0.1.0"
