from __future__ import annotations

import pytest

from presto_db_spark.operators import relational

from .oracle_utils import check_query, split_at

# The decorrelation / DISTINCT / UNNEST batch (registered from subq_exists
# on) is checked in test_relational2.py.
FIRST, SECOND = split_at(relational.QUERIES, "subq_exists")


@pytest.mark.parametrize("name", FIRST)
def test_relational_vs_duckdb(spark, sf_dir, name):
    problems = check_query(
        spark, name, relational.QUERIES[name], relational.ORACLE.get(name), sf_dir
    )
    assert not problems, f"{name}: {problems}"
