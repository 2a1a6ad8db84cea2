from __future__ import annotations

import pytest

from presto_db_spark.operators import functions_corpus as fc

from .oracle_utils import check_query
from .test_functions_corpus import BATCH2


@pytest.mark.parametrize("name", BATCH2)
def test_functions2_vs_duckdb(spark, sf_dir, name):
    problems = check_query(spark, name, fc.QUERIES[name], fc.ORACLE.get(name), sf_dir)
    assert not problems, f"{name}: {problems}"
