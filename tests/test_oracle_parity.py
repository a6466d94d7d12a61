"""Drive every registered (query, oracle) pair through the local replica of
the driver's DuckDB comparison at sf0.001 (fast). This is the correctness
gate rehearsal — if this passes, CORRECTNESS_r{N} should too.
"""

from __future__ import annotations

import pytest

from prefect_flow_arc_alto_to_json_spark.plans import ORACLES, QUERIES

from .oracle_harness import compare, duck_con


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duck_con(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(name, spark, sf_dir, con):
    # a query must leave the session conf as it found it (no leak into
    # the next query of the same session)
    conf_before = spark.conf.getAll
    df = QUERIES[name](spark, sf_dir)
    compare(df, con, ORACLES[name], name)
    assert spark.conf.getAll == conf_before


# (round-14, suite-duration fix) test_every_query_runs was removed: it
# re-executed all 50 graded queries a second time for a strictly weaker
# check than test_query_matches_oracle above, which executes every graded
# query fully (tests/test_extra_queries.py::
# test_registry_oracle_coverage_is_total guarantees ORACLES covers
# QUERIES). 86 s of the round-13 driver-verify truncation.


def test_approx_distinct_within_tolerance(spark, sf_dir):
    """The query now emits the tolerance check itself (hash-checkable since
    round 3): every group's HLL estimate must land within 5% of exact."""
    from prefect_flow_arc_alto_to_json_spark.plans import EXTRA_QUERIES

    # rotated to the extra tier in round 7 (q_kmv_distinct_rollup grades
    # cardinality now); the tolerance invariant stays pinned here
    rows = EXTRA_QUERIES["q_approx_distinct"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["within_5pct"] is True and r["exact_users"] > 0
