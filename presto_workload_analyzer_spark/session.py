"""SparkSession factory tuned for this engine.

Local mode is the test bed (local[N], one JVM); the configuration is written
so the same code lands well on a multi-executor cluster at 100 TB scale:
AQE handles runtime coalesce/skew, shuffle partitions equal the core count
locally (a cluster deployment should raise them to ~2-3x total cores
through `extra_conf`),
and the session timezone is pinned to UTC so timestamp semantics match the
DuckDB correctness oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "presto-workload-analyzer-spark",
    cpus: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Shuffled-hash joins ONLY via AQE's runtime rewrite, never as a
        # plan-time preference. Both forms were measured at two scales
        # (OPTIMIZATION_r15.md): preferSortMergeJoin=false won ~8%
        # in-stack at sf0.1 (metadata-grain build sides, SMJ sorts are
        # overhead) but regressed the sf1 tail up to 2.4x (x33/x81's
        # pair-enumeration joins build per-partition hash maps over
        # 10x-bigger partitions — the guide's stated SHJ memory risk).
        # The AQE threshold form is scale-adaptive by construction: the
        # rewrite fires only when EVERY post-shuffle partition of the
        # build side is under the threshold, so small-scale runs get the
        # sort-free join and large partitions keep sort-merge's graceful
        # spill. 64m x 32 local tasks bounds concurrent build memory at
        # ~2 GB of the 16g heap; a cluster deployment scales the bound
        # with its executor memory the same way.
        .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The synthetic testdata parquet carries TIMESTAMP(NANOS) columns,
        # which Spark's vectorized reader rejects outright; read them as
        # longs and let sources.tables.read_table restore TimestampType.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # The generated-class cache defaults to 100 entries — fewer than the
        # registry's 222 distinct plans, so a full bench/gate session churns
        # it. Measured warm-solo: 287.6 s -> 275.3 s full bench (inside host
        # variance, kept as the principled default; it did NOT move x51's
        # fixed overhead, which is job-scheduling constants — BASELINE.md
        # round-8). Static conf, so it must be set before session start.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Silence WindowExec's single-partition warning ONLY: every unpartitioned
    # window in this engine runs over GROUP-grain frames that are bounded by
    # construction (pie labels <= a few hundred, top-k survivors <= k,
    # per-source ranks <= #sources; the one corpus-grain prefix sum,
    # pack_bins, is hierarchical and never uses a global window). This is
    # not a point-in-time audit: tests/test_plan_lint.py walks every
    # registered query's physical plan and FAILS on any unpartitioned
    # window whose input subtree is not pre-aggregated — new code that
    # would have earned the warning trips the lint instead. The warning is
    # therefore always a false alarm here, and at 222 bench queries it
    # drowns the output tail. Other WARNs stay on.
    # Likewise two purely-informational streaming WARNs that fire once per
    # memory-sink test query (~100 lines across a full bench run):
    # ResolveWriteToStream's "temporary checkpoint location created" — the
    # production sinks (streaming/ingest.py) always pass an explicit
    # checkpointLocation, only sinkless test drains get the temp dir — and
    # MicroBatchExecution's "disabling AQE for stateful workloads", which
    # states a Spark-wide invariant, not a property of any plan here. Both
    # loggers drop to ERROR: real failures still surface.
    try:
        jvm = spark.sparkContext._jvm
        for logger in (
            "org.apache.spark.sql.execution.window.WindowExec",
            # Spark 4.1 class locations (…execution.streaming.runtime);
            # verified against the installed spark-sql jar
            "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
            "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution",
        ):
            jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
                logger, jvm.org.apache.logging.log4j.Level.ERROR
            )
    except Exception:  # noqa: BLE001 — logging cosmetics must never fail a session
        pass
    return spark
