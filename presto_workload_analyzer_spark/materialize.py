"""Materialization discipline for multiply-consumed DataFrames.

A DataFrame referenced N times re-plans — and, when nothing pins it, also
re-executes — its entire upstream subtree once per reference. The r15
plan audit (tools/plan_audit.py) measured the cost of forgetting this:
x100's triangle census planned 371 Exchange instances over a 255-edge
graph, and the wall was driver-side planning, not data. The repo-wide
convention (the xs43/x119 lesson) is therefore: any frame an operator
reads more than once is materialized at that boundary.

`materialize(df)` is the one spelling of that convention: a LAZY
localCheckpoint — the plan truncates to a flat RDD scan immediately, the
first action materializes the blocks, later references (in the same or
any later job) read them. Chosen over persist() because a persisted
frame keeps its full lineage inside every consumer plan and can be
evicted and silently recomputed mid-run.

`PWA_NO_MATERIALIZE=1` makes it the identity — set by the plan-shape
test suites (pushdown pins, plan lint) so they audit the FULL logical
dataflow down to the parquet scans instead of stopping at checkpoint
leaves. Never set it in production or bench paths.

Deployment caveat (ADVICE r15): localCheckpoint blocks live in executor
block managers with NO recompute path — on a cluster, executor loss
(including dynamic-allocation decommission) permanently loses blocks and
fails the job, unlike persist()'s lineage-backed recompute. The
convention is validated on single-node/local-mode runs; a multi-executor
deployment should either disable dynamic allocation for these jobs or
swap materialize() to reliable `checkpoint()` into a durable dir (one
conf-site change here, not per-operator).
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame

# Serialized blocks, not the deserialized default: checkpointed frames
# often carry token/gram arrays, and deserialized Java object graphs cost
# several times their serialized bytes in heap — across a 263-query
# session the accumulation becomes GC pressure on everything downstream.
# Serialized MEMORY_AND_DISK keeps the block-manager footprint at data
# size; the read-back deserialization is a bulk columnar-ish pass, cheap
# next to the re-execution the checkpoint exists to avoid.
_LEVEL = StorageLevel.MEMORY_AND_DISK


def materialize(df: DataFrame) -> DataFrame:
    # parse the kill-switch value: PWA_NO_MATERIALIZE=0/false/no must NOT
    # silently disable materialization (ADVICE r15)
    if os.environ.get("PWA_NO_MATERIALIZE", "").lower() in ("1", "true", "yes"):
        return df
    return df.localCheckpoint(eager=False, storageLevel=_LEVEL)
