from __future__ import annotations

import pytest

from presto_db_spark.operators import functions_corpus as fc

from .oracle_utils import check_query, split_at

# The corpus was written in three batches; each has its own test function
# here and in test_functions_corpus2.py / test_functions_corpus3.py.
BATCH1, BATCH2, BATCH3 = split_at(fc.QUERIES, "func_string_extra", "agg_reduce")


@pytest.mark.parametrize("name", BATCH1)
def test_functions_vs_duckdb(spark, sf_dir, name):
    problems = check_query(spark, name, fc.QUERIES[name], fc.ORACLE.get(name), sf_dir)
    assert not problems, f"{name}: {problems}"
