"""Oracle output-dtype strictness.

Round-5 postmortem (VERDICT.md "What's wrong" #1): x76's oracle summed
BIGINTs without a cast, DuckDB widened the result to HUGEINT, and the
driver's value-hash — which serializes dtypes, unlike the local gate's
int64-normalizing compare — flagged the only red row of the round even
though the answer was correct. The local gate could never catch this
class of bug because it normalizes dtypes before comparing.

This test closes the class: DESCRIBE every registered oracle against the
sf0.001 tables and fail if any output column has a type Spark cannot
produce (HUGEINT/UHUGEINT from uncast integer sums, DECIMAL from bare
numeric literals like `THEN 1.0` or `UNNEST([0.5, ...])`). DESCRIBE only
binds/plans the query — no execution — so the full 200+ oracle sweep
runs in seconds.
"""

import os

import duckdb
import pytest

from presto_workload_analyzer_spark import driver_queries as dq

SF_DIR = os.environ.get("SPARK_GRAFT_TINY_SF", "/root/testdata/sf0.001")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# dtypes a Spark DataFrame can never emit: any oracle column bound to one
# of these WILL hash-mismatch in the driver even when values agree
_BANNED = ("HUGEINT", "UHUGEINT", "DECIMAL")


@pytest.fixture(scope="module")
def con():
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"{SF_DIR} not present")
    c = duckdb.connect()
    for t in TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return c


def test_no_oracle_binds_to_spark_unrepresentable_dtype(con):
    offenders = []
    for name, sql in dq._ORACLES.items():
        if sql is None:
            continue
        try:
            desc = con.execute(f"DESCRIBE ({sql})").fetchall()
        except Exception as exc:  # pragma: no cover - binding failure is its own bug
            offenders.append((name, "BIND-ERROR", str(exc)[:120]))
            continue
        for col, typ, *_ in desc:
            if any(b in typ.upper() for b in _BANNED):
                offenders.append((name, col, typ))
    assert offenders == [], (
        "oracle columns bound to dtypes Spark cannot produce "
        "(wrap integer sums in CAST(... AS BIGINT), decimal literals in "
        f"CAST(... AS DOUBLE)): {offenders}"
    )
