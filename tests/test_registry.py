"""The query registry: every registered query carries an oracle, and
queries() and oracle_sql() list them in registration order."""

import hashlib
import json

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


def test_oracle_sql_fingerprint():
    """Pins every oracle's text up to whitespace, and the registration
    order, so refactoring the shared SQL fragments cannot change what any
    query is checked against. An intended oracle change updates the pin."""
    oracles = dq.oracle_sql()
    text = json.dumps(sorted((k, " ".join(v.split())) for k, v in oracles.items()))
    assert (
        hashlib.sha256(text.encode()).hexdigest()
        == "ba63b1c6c1fb161f422cec1142d5c1d30b069c8e85426b3e781ad044e9dfb271"
    )
    assert (
        hashlib.sha256(json.dumps(list(dq.queries())).encode()).hexdigest()
        == "44bc873fb5f356da3db2f2db8afbc8079c93a420d14dd59cf5d59af2306ee3ca"
    )
