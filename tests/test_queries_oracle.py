"""Driver-mirror test: every registry query must match its DuckDB oracle
at sf0.001 (rowcount + dtypes + order-insensitive exact values) — the same
gate the round driver applies at sf0.01.
"""

from __future__ import annotations

import duckdb
import pytest

from cyrela_etl_spark.queries import load_all
from cyrela_etl_spark.schemas import TESTDATA_TABLES

REGISTRY = load_all()


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(name, spark, sf_dir, oracle_con):
    import sys

    sys.path.insert(0, "tools")
    from verify_local import compare

    fn, oracle = REGISTRY[name]
    conf_before = dict(spark.conf.getAll)
    spark_pdf = fn(spark, sf_dir).toPandas()
    # an engine call leaves the session conf as it found it
    assert dict(spark.conf.getAll) == conf_before, f"{name} changed the session conf"
    if oracle is None:
        assert len(spark_pdf) >= 0  # rows-only check (no oracle declared)
        return
    oracle_pdf = oracle_con.execute(oracle).df()
    problems = compare(name, spark_pdf, oracle_pdf)
    assert not problems, f"{name}: {problems}"


def test_priority_list_is_consistent_with_registry():
    """The _PRIORITY scoring order must reference only registered
    queries, contain no duplicates, and stay within the driver's ~50-slot
    budget — the invariant whose drift ADVICE flagged in rounds 5 and 6
    (stale counts in prose); this pins the machine-readable side."""
    from cyrela_etl_spark.queries import _PRIORITY, load_all

    reg = load_all()
    missing = [n for n in _PRIORITY if n not in reg]
    assert missing == [], f"_PRIORITY names not in registry: {missing}"
    assert len(_PRIORITY) == len(set(_PRIORITY)), "duplicate _PRIORITY entries"
    # The list may exceed the driver's ~50-slot budget: entries past the
    # cut are the documented spill queue for the next round (the driver
    # walks insertion order and truncates), so the invariant is that the
    # ordering is meaningful, not that the list fits the budget.
    assert len(_PRIORITY) <= len(reg), "priority list larger than the registry"
    # every registry entry is oracle-backed (the registry currently has
    # no weaker rows-only entries; loosen deliberately if one is added)
    no_oracle = [n for n, (_fn, o) in reg.items() if o is None]
    assert no_oracle == [], f"queries without oracles: {no_oracle}"
