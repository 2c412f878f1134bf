"""The query registry: every registered query carries an oracle, and
queries() and oracle_sql() list them in registration order."""

from presto_workload_analyzer_spark import driver_queries as dq


def test_registration_order_is_the_order():
    assert list(dq.queries()) == list(dq.oracle_sql()) == list(dq._QUERIES)


def test_every_query_has_an_oracle():
    """Round-4 invariant: ZERO rows-only queries — every registered query
    carries a real DuckDB oracle (x13 via the IVF exactness reduction,
    x20 via the verified-LSH formulation). A new rows-only registration
    is a deliberate decision, not a default: fail here first."""
    missing = [n for n, sql in dq._ORACLES.items() if sql is None]
    assert missing == []
    assert set(dq._ORACLES) == set(dq._QUERIES)
