"""Golden parity suite: every registered query vs its DuckDB oracle.

Mirrors the driver's correctness gate through ``plans/oracle.py``, the
one comparison the sweep and timing scripts share: row count, column
names and type classes, and an order-insensitive exact value comparison
— floats must match bit-for-bit, which the queries guarantee by
construction (exact decimal aggregation / identical double expression
trees).
"""

from __future__ import annotations

import pytest

from e2e_stock_data_pipeline_spark.plans import oracle
from e2e_stock_data_pipeline_spark.plans.registry import load_all_query_modules

REGISTRY = load_all_query_modules()


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = oracle.connect(sf_dir)
    yield con
    con.close()


oracle_cases = sorted(REGISTRY)


@pytest.mark.parametrize("name", oracle_cases)
def test_query_matches_oracle(name, spark, sf_dir, oracle_con):
    spec = REGISTRY[name]
    got = oracle.spark_result(spec.spark(spark, oracle.sf_dir_for(spec, sf_dir)))
    msg = oracle.diff(name, got, oracle.duckdb_result(oracle_con.sql(spec.oracle)))
    assert msg is None, msg
