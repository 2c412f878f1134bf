"""Hot-key skew stress for the STATEFUL STREAMING family (round-7, the
last quadrant of the skew-evidence matrix: batch pair generators have
planted-skew tests, the dup-graph and text-dedup chains have measured
gates — this measures the applyInPandasWithState path).

A real workload stream is power-law in keys: one service account can own
half of all query events. For a keyed stateful operator that is the
"curse of the last reducer" input — the hot key's whole per-batch group
lands in ONE task. The defense is architectural, not a guard knob: the
session state machine is a SINGLE LINEAR PASS over the key's batch
(sessions.py:84-93) with O(1) state per key, so a hot key costs a
straggler task linear in its events, never a blow-up in state or a
quadratic pass. This tool plants exactly that stream and MEASURES it:

  * a hot user owning 50% of all events (sessions of 50 events each,
    951 s jumps between them — every non-final session closes in-batch);
  * 500 uniform users sharing the other 50% (one session each, closed by
    the terminal watermark);
  * the closed-session counts have a CLOSED FORM asserted exactly at
    both scales, and the end-to-end drain wall must scale ~linearly at
    10x events despite the hot key also growing 10x.

Usage: python tools/skew_stream.py [n] [mult]   (defaults: 200000, 10)
Exit 1 on a correctness miss or a superlinear (mult * 1.5) wall slope.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

GAP_S = 30.0          # session gap
PER_SESSION = 50      # hot-user events per session
N_UNIFORM = 500       # uniform users
WM = "1 minute"


def planted_events(spark, n: int):
    """50% of n events on user 'hot', 50% spread over N_UNIFORM users.

    Hot event i lands at (i // 50) * 1000 + (i % 50) seconds — 50-event
    runs at 1 s spacing with 951 s jumps, so sessions have a closed form
    and every non-final one closes in-batch. Uniform user u's events sit
    at 1 s spacing starting at 0 — far below the terminal watermark
    (global max is the hot user's last event), so their single sessions
    all close on the no-data flush batch.
    """
    h = n // 2
    hot = spark.range(h).select(
        F.lit("hot").alias("user"),
        F.timestamp_seconds(
            (F.col("id") / PER_SESSION).cast("long") * 1000 + F.col("id") % PER_SESSION
        ).alias("query_ts"),
        F.lit(1.0).alias("scheduled_time"),
        F.lit("FINISHED").alias("state"),
    )
    k = (n - h) // N_UNIFORM
    uni = spark.range(n - h).select(
        F.concat(F.lit("u"), (F.col("id") % N_UNIFORM).cast("string")).alias("user"),
        F.timestamp_seconds((F.col("id") / N_UNIFORM).cast("long")).alias("query_ts"),
        F.lit(1.0).alias("scheduled_time"),
        F.lit("FINISHED").alias("state"),
    )
    expected = (h + PER_SESSION - 1) // PER_SESSION - 1 + N_UNIFORM
    return hot.unionByName(uni), expected, k


def run_sessions(spark, events, tmp: str) -> tuple[int, float]:
    """Write the planted frame as a file-source stream, drain
    query_sessions through a memory sink, return (closed sessions, wall)."""
    from presto_workload_analyzer_spark.streaming import drain, query_sessions

    src = os.path.join(tmp, f"ev_{uuid.uuid4().hex[:8]}")
    events.write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(src)
        .withColumn("query_ts", F.col("query_ts").cast("timestamp"))
        .withWatermark("query_ts", WM)
    )
    t0 = time.time()
    sessions = query_sessions(stream, gap_seconds=GAP_S)
    n_closed = drain(sessions, partitions=8, timeout=600).count()
    return n_closed, time.time() - t0


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    mult = int(sys.argv[2]) if len(sys.argv) > 2 else 10

    from presto_workload_analyzer_spark.session import get_spark

    spark = get_spark(app_name="skew-stream-stress")
    tmp = tempfile.mkdtemp(prefix="skew_stream_")
    ok = True
    try:
        # discard a warmup drain (JVM/state-store init would otherwise land
        # in the small-scale wall and flatter the slope)
        ev, _, _ = planted_events(spark, max(n // 10, 2000))
        run_sessions(spark, ev, tmp)

        walls = []
        for scale in (n, n * mult):
            ev, want, _ = planted_events(spark, scale)
            got, wall = run_sessions(spark, ev, tmp)
            print(
                f"[n={scale}] hot_events={scale // 2} closed_sessions={got} "
                f"(closed form {want}) wall={wall:.2f}s"
            )
            if got != want:
                print(f"  FAIL: closed sessions {got} != {want}")
                ok = False
            walls.append(wall)

        slope = walls[1] / max(walls[0], 1e-9)
        print(f"\nwall slope at {mult}x events (hot key also 10x): "
              f"{slope:.2f}x (bound {mult * 1.5:.1f}x)")
        if slope > mult * 1.5:
            print("FAIL: superlinear under hot-key stream skew")
            ok = False
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("skew_stream: PASS" if ok else "skew_stream: FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
